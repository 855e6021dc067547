package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Flink `CREATE TABLE ... WITH ('connector' = ...)` DDL — the first
  * statement every migrating pipeline runs ([U] flink-table-planner
  * SqlCreateTable + flink-connector-files / flink-connector-datagen;
  * SURVEY.md §3.1). Translated onto Spark's own readers and registered
  * as a session temp view (the zero-egress analog of Flink's in-memory
  * catalog; TEMPORARY and permanent tables land in the same place,
  * documented delta):
  *
  * {{{
  * CREATE TABLE orders (
  *   o_orderkey BIGINT,
  *   o_totalprice DOUBLE,
  *   ship_ts TIMESTAMP(3),
  *   total_cents AS CAST(o_totalprice * 100 AS BIGINT),
  *   WATERMARK FOR ship_ts AS ship_ts - INTERVAL '5' SECOND
  * ) WITH ('connector' = 'filesystem', 'path' = '/data/orders.parquet',
  *         'format' = 'parquet')
  * }}}
  *
  * Supported connectors: `filesystem` (formats parquet/csv/json/orc —
  * Spark's DataFrameReader with the declared schema — plus the CDC
  * formats debezium-/canal-/maxwell-/ogg-json: JSON lines decoded to a
  * `row_kind` changelog, and materialized to current state when a
  * PRIMARY KEY is declared, Flink's batch-SELECT-over-CDC semantics),
  * `datagen` (bounded
  * deterministic rows shaped to the DECLARED schema, hash-derived like
  * [[graft.sources.DataGen]]; `number-of-rows` option), `print` /
  * `blackhole` (registered as zero-row sink markers so downstream DDL
  * referencing them resolves). Computed columns (`name AS expr`) become
  * view projections. `WATERMARK FOR c AS c - INTERVAL ...` is parsed and
  * recorded in [[watermarkOf]] (batch reads ignore it; streaming readers
  * apply it via `withWatermark` — Spark has no table-attached watermark).
  * `PRIMARY KEY ... NOT ENFORCED` is accepted and ignored (Flink does
  * not enforce it either). `PARTITIONED BY (cols)` — Flink's
  * partitioned filesystem table — is recorded: INSERT INTO writes
  * Spark partition directories and reads prune on the partition
  * columns (the layout that makes a 100 TB table scannable).
  * Everything else fails with a clear error.
  */
object FlinkDdl {

  private val createRe =
    raw"(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?([A-Za-z_]\w*)`?\s*\(".r
  private val partitionedRe = raw"(?is)\bPARTITIONED\s+BY\s*\(".r
  private val withRe = raw"(?is)\bWITH\s*\(".r
  private val optRe = raw"(?s)'((?:[^'\\]|\\.)*)'\s*=\s*'((?:[^'\\]|\\.)*)'".r
  private val watermarkRe =
    raw"(?is)^WATERMARK\s+FOR\s+([A-Za-z_]\w*)\s+AS\s+(.+)$$".r
  private val computedRe = raw"(?is)^([A-Za-z_]\w*)\s+AS\s+(.+)$$".r
  private val metadataColRe =
    raw"(?is)^([A-Za-z_]\w*)\s+(.+?)\s+METADATA(?:\s+FROM\s+'([^']+)')?(\s+VIRTUAL)?\s*$$".r

  // whole-word match: `flag AS escrow < 10` must NOT read `...row` as a
  // ROW< generic opening
  private val genericTailRe =
    raw"(?i)(?<![A-Za-z0-9_])(ARRAY|MAP|ROW|MULTISET|STRUCT)\s*$$".r

  /** Split a column-definition list on top-level commas, tracking () AND
    * the generic-type brackets of `MAP<STRING, BYTES>`-style
    * constructors. `<` nests only after a generic constructor name, so a
    * computed column's `CASE WHEN a < b ...` cannot unbalance the scan.
    */
  private[plans] def splitColDefs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var paren = 0
    var angle = 0
    val cur = new StringBuilder
    s.foreach { c =>
      if (c == ',' && paren == 0 && angle == 0) { out += cur.result().trim; cur.clear() }
      else {
        if (c == '(') paren += 1
        else if (c == ')') paren -= 1
        else if (c == '<' && genericTailRe.findFirstIn(cur.result()).isDefined) angle += 1
        else if (c == '>' && angle > 0) angle -= 1
        cur += c
      }
    }
    out += cur.result().trim
    out.result().filter(_.nonEmpty)
  }
  private val pkRe = raw"(?is)^(?:CONSTRAINT\s+\w+\s+)?PRIMARY\s+KEY\s*\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\).*$$".r
  private val physicalRe = raw"(?is)^([A-Za-z_]\w*)\s+(.+?)(\s+NOT\s+NULL)?(\s+COMMENT\s+'[^']*')?$$".r
  private val delayRe = raw"(?is)^([A-Za-z_]\w*)\s*-\s*INTERVAL\s+'([\d.]+)'\s+(\w+)$$".r

  /** Parse a WATERMARK expression body against its FOR column into the
    * withWatermark delay string: `col - INTERVAL 'n' unit` (bounded
    * out-of-orderness) or the bare `col` — Flink's ascending-timestamps
    * declaration, delay 0.
    */
  private def watermarkDelay(forCol: String, body: String): String = body.trim match {
    case delayRe(c, n, unit) if c.equalsIgnoreCase(forCol) =>
      s"$n ${unit.toLowerCase.stripSuffix("s")}s"
    case b if b.equalsIgnoreCase(forCol) => "0 seconds"
    case other => fail(s"unsupported watermark expression `$other` " +
      "(supported: <col> - INTERVAL '<n>' <unit>, or the bare <col> for " +
      "ascending timestamps)")
  }

  /** Registries are scoped to the owning SparkSession (weak keys — the
    * metadata dies with the session, like the temp views it describes),
    * with tables keyed by lowercased name inside each session. A
    * re-registered name replaces its old entry, so INSERT INTO and
    * SystemTimeJoin never see stale metadata from another session or
    * from before a rebind.
    */
  private val wmBySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (String, String)]]()
  private val tablesBySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (String, String, String, StructType)]]()

  private def wmRegistry(spark: SparkSession) = wmBySession.synchronized {
    wmBySession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, (String, String)]())
  }
  private def tableRegistry(spark: SparkSession) = tablesBySession.synchronized {
    tablesBySession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, (String, String, String, StructType)]())
  }

  /** Catalog/database bookkeeping for three-part name resolution ([U]
    * flink-table-api `CatalogManager` / SqlUseCatalog / SqlUseDatabase;
    * SURVEY §3.1). ONE physical namespace backs every
    * `catalog.database`: qualified references `cat.db.tbl` / `db.tbl`
    * over DECLARED catalogs/databases resolve by validated
    * prefix-stripping, and `USE CATALOG` / `USE` switch the default
    * prefix the bookkeeping reports. Distinct same-named tables in
    * different databases are NOT modeled (documented MIGRATION.md
    * delta — the last registration of a simple name wins, exactly like
    * the temp views underneath).
    */
  private class NsState {
    var currentCatalog = "default_catalog"
    var currentDb = "default_database"
    val catalogs = scala.collection.mutable.LinkedHashSet("default_catalog")
    val dbs = scala.collection.mutable.Map(
      "default_catalog" -> scala.collection.mutable.LinkedHashSet("default_database"))
    // simple table name -> (catalog, db) it was last created under
    val tableNs = scala.collection.mutable.Map.empty[String, (String, String)]
    // the namespace a head-qualified CREATE TABLE named (set by FlinkSql
    // before resolveNames strips the prefix, consumed by recordTableNs)
    var pendingNs: Option[(String, String)] = None
  }
  private val nsBySession = new java.util.WeakHashMap[SparkSession, NsState]()
  private def ns(spark: SparkSession): NsState = nsBySession.synchronized {
    nsBySession.computeIfAbsent(spark, _ => new NsState)
  }

  def currentNamespace(spark: SparkSession): (String, String) = {
    val s = ns(spark); (s.currentCatalog, s.currentDb)
  }
  def listCatalogs(spark: SparkSession): Seq[String] = ns(spark).catalogs.toSeq
  def listDatabases(spark: SparkSession): Seq[String] = {
    val s = ns(spark)
    s.dbs.getOrElse(s.currentCatalog, scala.collection.mutable.LinkedHashSet.empty[String]).toSeq
  }
  /** Databases declared under a SPECIFIC catalog (ALTER DATABASE's
    * existence check — unlike [[listDatabases]], not current-catalog
    * bound).
    */
  def listDatabasesOf(spark: SparkSession, cat: String): Seq[String] =
    ns(spark).dbs.get(cat.toLowerCase).map(_.toSeq).getOrElse(Seq.empty)
  def createCatalog(spark: SparkSession, c0: String): Unit = {
    val s = ns(spark); val c = c0.toLowerCase
    s.catalogs += c
    s.dbs.getOrElseUpdate(c, scala.collection.mutable.LinkedHashSet("default_database"))
  }
  def dropCatalog(spark: SparkSession, c0: String, ifExists: Boolean): Unit = {
    val s = ns(spark); val c = c0.toLowerCase
    if (c == s.currentCatalog) fail(s"cannot drop the current catalog `$c`")
    if (!s.catalogs.remove(c) && !ifExists) fail(s"catalog `$c` does not exist")
    s.dbs.remove(c)
  }
  def createDatabase(spark: SparkSession, cat0: Option[String], d0: String,
      ifNotExists: Boolean): Unit = {
    val s = ns(spark)
    val c = cat0.map(_.toLowerCase).getOrElse(s.currentCatalog)
    if (!s.catalogs.contains(c)) fail(s"catalog `$c` does not exist")
    val d = d0.toLowerCase
    if (s.dbs(c).contains(d) && !ifNotExists) fail(s"database `$c.$d` already exists")
    s.dbs(c) += d
  }
  def dropDatabase(spark: SparkSession, cat0: Option[String], d0: String,
      ifExists: Boolean, cascade: Boolean): Unit = {
    val s = ns(spark)
    val c = cat0.map(_.toLowerCase).getOrElse(s.currentCatalog)
    val d = d0.toLowerCase
    if (c == s.currentCatalog && d == s.currentDb) fail(s"cannot drop the current database `$d`")
    if (!s.dbs.get(c).exists(_.contains(d))) {
      if (ifExists) return else fail(s"database `$c.$d` does not exist")
    }
    val owned = s.tableNs.collect { case (t, (tc, td)) if tc == c && td == d => t }.toSeq
    if (owned.nonEmpty && !cascade)
      fail(s"database `$d` is not empty (RESTRICT); use CASCADE or drop: ${owned.mkString(", ")}")
    owned.foreach { t =>
      try executeDrop(spark, s"DROP TABLE IF EXISTS $t") catch { case _: Exception => () }
      s.tableNs.remove(t)
    }
    s.dbs(c) -= d
  }
  def useCatalog(spark: SparkSession, c0: String): Unit = {
    val s = ns(spark); val c = c0.toLowerCase
    if (!s.catalogs.contains(c)) fail(s"catalog `$c` does not exist (CREATE CATALOG first)")
    s.currentCatalog = c
    if (!s.dbs(c).contains(s.currentDb))
      s.currentDb = s.dbs(c).headOption.getOrElse("default_database")
  }
  def useDatabase(spark: SparkSession, cat0: Option[String], d0: String): Unit = {
    val s = ns(spark)
    // validate BOTH parts before committing either — a failed
    // `USE cat.db` must not leave the session half-switched
    val c = cat0.map(_.toLowerCase).getOrElse(s.currentCatalog)
    if (!s.catalogs.contains(c)) fail(s"catalog `$c` does not exist (CREATE CATALOG first)")
    val d = d0.toLowerCase
    if (!s.dbs(c).contains(d))
      fail(s"database `$c.$d` does not exist (CREATE DATABASE first)")
    s.currentCatalog = c
    s.currentDb = d
  }
  private[plans] def recordTableNs(spark: SparkSession, name: String): Unit = {
    val s = ns(spark)
    // a head-qualified CREATE names its home explicitly; otherwise an
    // internal re-registration (ALTER, LIKE) keeps the existing home and
    // only a genuinely new name lands in the current namespace
    val target = s.pendingNs.orElse(s.tableNs.get(name.toLowerCase))
      .getOrElse((s.currentCatalog, s.currentDb))
    s.pendingNs = None
    s.tableNs(name.toLowerCase) = target
  }
  /** FlinkSql notes a CREATE TABLE statement's (possibly qualified) home
    * BEFORE resolveNames strips the prefix; an undeclared prefix leaves
    * no note (the unresolved dots then fail downstream as before).
    */
  def notePendingCreateNs(spark: SparkSession, cat: Option[String],
      db: Option[String]): Unit = {
    val s = ns(spark)
    db match {
      case None => s.pendingNs = Some((s.currentCatalog, s.currentDb))
      case Some(d0) =>
        val c = cat.map(_.toLowerCase).getOrElse(s.currentCatalog)
        val d = d0.toLowerCase
        s.pendingNs =
          if (s.catalogs.contains(c) && s.dbs(c).contains(d)) Some((c, d)) else None
    }
  }
  def clearPendingNs(spark: SparkSession): Unit = ns(spark).pendingNs = None
  /** DDL tables created under `[cat.]db` (SHOW TABLES FROM/IN). */
  def tablesIn(spark: SparkSession, cat0: Option[String], d0: String): Seq[String] = {
    val s = ns(spark)
    val c = cat0.map(_.toLowerCase).getOrElse(s.currentCatalog)
    val d = d0.toLowerCase
    if (!s.dbs.get(c).exists(_.contains(d))) fail(s"database `$c.$d` does not exist")
    s.tableNs.collect { case (t, (tc, td)) if tc == c && td == d => t }.toSeq
  }

  private val dottedRe =
    raw"(?s)(?<![\w.`])`?([A-Za-z_]\w*)`?\s*\.\s*(?:`?([A-Za-z_]\w*)`?\s*\.\s*)?`?([A-Za-z_]\w*)`?(?!\s*\.)".r

  /** Resolve qualified `catalog.db.name` / `db.name` references over
    * DECLARED catalogs/databases down to the flat physical namespace.
    * Quote-aware (single-quoted literals are copied wholesale); dotted
    * chains whose head is not a declared catalog/database — column
    * accesses, struct fields, aliases — are left untouched. A
    * `db.tbl.col` chain (db declared) strips just the db.
    */
  def resolveNames(spark: SparkSession, sqlText: String): String = {
    val s = ns(spark)
    // fast path ONLY in the untouched-namespace state (guarding by
    // content, not size — default_catalog itself may have been dropped)
    if (s.catalogs.toSet == Set("default_catalog") &&
      s.dbs.get("default_catalog").forall(_.size == 1)) return sqlText
    def seg(text: String): String = dottedRe.replaceAllIn(text, m => {
      val (a, bOpt, c) = (m.group(1), Option(m.group(2)), m.group(3))
      val rep = bOpt match {
        case Some(b) =>
          if (s.catalogs.contains(a.toLowerCase) &&
              s.dbs(a.toLowerCase).contains(b.toLowerCase)) c         // cat.db.tbl
          else if (s.dbs(s.currentCatalog).contains(a.toLowerCase)) s"$b.$c" // db.tbl.col
          else m.matched
        case None =>
          if (s.dbs(s.currentCatalog).contains(a.toLowerCase)) c       // db.tbl
          else m.matched
      }
      java.util.regex.Matcher.quoteReplacement(rep)
    })
    // copy quoted literals wholesale (single- AND double-quoted — Spark
    // reads "..." as a string literal by default), rewrite the segments
    // between them
    val sb = new StringBuilder
    var i = 0
    while (i < sqlText.length) {
      val q1 = sqlText.indexOf('\'', i)
      val q2 = sqlText.indexOf('"', i)
      val q = if (q1 < 0) q2 else if (q2 < 0) q1 else math.min(q1, q2)
      if (q < 0) { sb.append(seg(sqlText.substring(i))); i = sqlText.length }
      else {
        val qc = sqlText.charAt(q)
        sb.append(seg(sqlText.substring(i, q)))
        var j = q + 1
        var closed = false
        while (j < sqlText.length && !closed) {
          if (sqlText.charAt(j) == qc) {
            if (j + 1 < sqlText.length && sqlText.charAt(j + 1) == qc) j += 2
            else { closed = true; j += 1 }
          } else j += 1
        }
        sb.append(sqlText.substring(q, j))
        i = j
      }
    }
    sb.result()
  }

  /** Flink views, in REGISTRATION ORDER (dependencies first): name →
    * (the rewritten Spark CREATE text, the raw SELECT body). Kept so
    * streaming INSERTs can RE-BIND a view chain onto streaming sources
    * (a temp view captures its plan at creation — re-running the CREATE
    * after the source swap re-resolves it against the readStreams).
    */
  private val viewsBySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.LinkedHashMap[String, (String, String)]]()
  private def viewRegistry(spark: SparkSession) = viewsBySession.synchronized {
    viewsBySession.computeIfAbsent(spark,
      _ => new java.util.LinkedHashMap[String, (String, String)]())
  }
  def registerView(spark: SparkSession, name: String, createSql: String,
      body: String): Unit = {
    val r = viewRegistry(spark)
    r.synchronized { r.remove(name.toLowerCase); r.put(name.toLowerCase, (createSql, body)) }
  }
  def unregisterView(spark: SparkSession, name: String): Unit = {
    val r = viewRegistry(spark)
    r.synchronized { r.remove(name.toLowerCase); () }
  }
  /** Replace a registered view's definition IN PLACE (ALTER VIEW ... AS):
    * unlike [[registerView]], the entry keeps its registration position,
    * so later views that reference it still re-bind in dependency order.
    */
  def replaceViewBody(spark: SparkSession, name: String, createSql: String,
      body: String): Unit = {
    val r = viewRegistry(spark)
    r.synchronized { r.put(name.toLowerCase, (createSql, body)); () }
  }
  /** Execute one SQL statement through the DIALECT parser (text rewrites
    * + lazy-command handling), materializing any command eagerly — used
    * where a handler needs spark.sql semantics but Flink-dialect text.
    */
  def runDialectSql(spark: SparkSession, sqlText: String): Unit = {
    val parser = new GraftSqlParser(spark, spark.sessionState.sqlParser)
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, parser.parsePlan(sqlText))
      .collect()
    ()
  }

  /** Ordered (name, createSql, body) of this session's Flink views. */
  def viewDefs(spark: SparkSession): Seq[(String, String, String)] = {
    val r = viewRegistry(spark)
    r.synchronized {
      r.entrySet().toArray(Array.empty[java.util.Map.Entry[String, (String, String)]])
        .map(e => (e.getKey, e.getValue._1, e.getValue._2)).toSeq
    }
  }

  private val partsBySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Seq[String]]]()
  private def partRegistry(spark: SparkSession) = partsBySession.synchronized {
    partsBySession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]())
  }

  /** PARTITIONED BY columns of a DDL-registered table (empty if none). */
  def partitionsOf(spark: SparkSession, table: String): Seq[String] =
    Option(partRegistry(spark).get(table.toLowerCase)).getOrElse(Seq.empty)

  private val pkBySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Seq[String]]]()
  private def pkRegistry(spark: SparkSession) = pkBySession.synchronized {
    pkBySession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]())
  }
  private val computedBySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]]()
  private def computedRegistry(spark: SparkSession) = computedBySession.synchronized {
    computedBySession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]())
  }

  private val optsBySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]]()
  private def optsRegistry(spark: SparkSession) = optsBySession.synchronized {
    optsBySession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]())
  }

  /** A declared `name type METADATA [FROM 'key'] [VIRTUAL]` column
    * ([U] flink-sql-parser SqlTableColumn.SqlMetadataColumn). `typeDdl`
    * is the mapped Spark type; `key` defaults to the column name.
    */
  case class MetadataCol(name: String, typeDdl: String, key: String, virtual: Boolean,
      notNull: Boolean = false) {
    def render: String =
      s"$name $typeDdl" + (if (notNull) " NOT NULL" else "") +
        s" METADATA FROM '$key'" + (if (virtual) " VIRTUAL" else "")
  }

  private val notNullTailRe = raw"(?i)\s+NOT\s+NULL$$".r

  /** Render a registry-schema field's TYPE back to DDL, preserving a
    * declared NOT NULL (declarative — NOT ENFORCED — but it must
    * round-trip through ALTER/LIKE/SHOW CREATE).
    */
  private def typeLine(f: org.apache.spark.sql.types.StructField): String =
    f.dataType.sql + (if (!f.nullable) " NOT NULL" else "")

  /** Full `name TYPE [NOT NULL]` DDL line for a registry-schema field. */
  private def physicalLine(f: org.apache.spark.sql.types.StructField): String =
    s"${f.name} ${typeLine(f)}"

  /** One MetadataCol construction from a [[metadataColRe]] match —
    * shared by CREATE and ALTER so the parse cannot drift.
    */
  private def metadataColOf(m: scala.util.matching.Regex.Match): MetadataCol = {
    val rawT = m.group(2).trim
    MetadataCol(m.group(1),
      sparkType(notNullTailRe.replaceAllIn(rawT, "")),
      Option(m.group(3)).getOrElse(m.group(1)), m.group(4) != null,
      notNull = notNullTailRe.findFirstIn(rawT).isDefined)
  }

  private val metaColsBySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Seq[MetadataCol]]]()
  private def metaRegistry(spark: SparkSession) = metaColsBySession.synchronized {
    metaColsBySession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Seq[MetadataCol]]())
  }

  /** METADATA columns of a DDL-registered table (empty if none). */
  def metadataColumnsOf(spark: SparkSession, table: String): Seq[MetadataCol] =
    Option(metaRegistry(spark).get(table.toLowerCase)).getOrElse(Seq.empty)

  /** Full WITH-options of a DDL-registered table (empty if none). */
  def optionsOf(spark: SparkSession, table: String): Map[String, String] =
    Option(optsRegistry(spark).get(table.toLowerCase)).getOrElse(Map.empty)

  /** PRIMARY KEY columns of a DDL-registered table (empty if none) —
    * for DESCRIBE's `key` column (declared NOT ENFORCED, like Flink).
    */
  def primaryKeyOf(spark: SparkSession, table: String): Seq[String] =
    Option(pkRegistry(spark).get(table.toLowerCase)).getOrElse(Seq.empty)

  /** Computed columns (name, expression) of a DDL-registered table —
    * for DESCRIBE's `extras` column (`AS <expr>`).
    */
  def computedColumnsOf(spark: SparkSession, table: String): Seq[(String, String)] =
    Option(computedRegistry(spark).get(table.toLowerCase)).getOrElse(Seq.empty)

  /** (rowtime column, watermark delay e.g. "5 seconds") of `table` as
    * declared in this session's DDL, if any.
    */
  def watermarkOf(spark: SparkSession, table: String): Option[(String, String)] =
    Option(wmRegistry(spark).get(table.toLowerCase))

  def registered(spark: SparkSession, table: String): Option[(String, String, String, StructType)] =
    Option(tableRegistry(spark).get(table.toLowerCase))

  /** Every connector-DDL table registered in this session:
    * name → (connector, path, format, schema). For the SQL-client
    * catalog statements (SHOW TABLES / SHOW CREATE TABLE).
    */
  def registeredTables(spark: SparkSession): Map[String, (String, String, String, StructType)] = {
    import scala.jdk.CollectionConverters._
    tableRegistry(spark).asScala.toMap
  }

  private val ctasRe =
    raw"(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s+WITH\s*\(".r
  private val dropRe =
    raw"(?is)^\s*DROP\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*$$".r
  private val truncateRe =
    raw"(?is)^\s*TRUNCATE\s+TABLE\s+([A-Za-z_]\w*)\s*$$".r

  private val optionsHintRe = raw"(?is)/\*\+\s*OPTIONS\s*\([^)]*\)\s*\*/".r

  /** Drop any OPTIONS hints [[applyOptionsHints]] did not consume
    * (SELECT-level hints, hints on non-registered names) — Spark's own
    * hints pass through untouched.
    */
  private[plans] def stripOptionsHints(s: String): String =
    optionsHintRe.replaceAllIn(s, " ")

  def containsClause(sqlText: String): Boolean =
    (createRe.findFirstIn(sqlText).isDefined || ctasRe.findFirstIn(sqlText).isDefined) &&
      raw"(?i)'\s*connector\s*'".r.findFirstIn(sqlText).isDefined

  /** True iff `sqlText` drops a table this session's DDL registered. */
  def isDrop(spark: SparkSession, sqlText: String): Boolean =
    dropRe.findFirstMatchIn(sqlText).exists(m => registered(spark, m.group(1)).isDefined)

  /** True iff `sqlText` truncates a table this session's DDL registered. */
  def isTruncate(spark: SparkSession, sqlText: String): Boolean =
    truncateRe.findFirstMatchIn(sqlText).exists(m => registered(spark, m.group(1)).isDefined)

  /** TRUNCATE TABLE (the reference's batch data-delete, 1.18+): remove
    * the filesystem table's data files and re-register the view empty;
    * the DDL metadata stays so later INSERTs refill it.
    */
  def executeTruncate(spark: SparkSession, sqlText: String): String = {
    val m = truncateRe.findFirstMatchIn(sqlText).getOrElse(fail("not a TRUNCATE TABLE"))
    val name = m.group(1)
    val (connector, path, _, schema) = registered(spark, name).getOrElse(fail(s"unknown table $name"))
    if (connector != "filesystem") fail(s"TRUNCATE TABLE supports filesystem tables, not '$connector'")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // full rebind: the path is gone, so the view lands on the empty
    // relation — WITH its metadata/computed columns, so a later SELECT
    // referencing them still analyzes
    rebindView(spark, name)
    name
  }

  /** Drop a DDL-registered table: the temp view and every registry
    * entry go (files stay on disk — Flink's filesystem connector does
    * not delete data on DROP either). Returns the table name.
    */
  def executeDrop(spark: SparkSession, sqlText: String): String = {
    val m = dropRe.findFirstMatchIn(sqlText).getOrElse(fail("not a DROP TABLE"))
    val name = m.group(1)
    spark.catalog.dropTempView(name)
    wmRegistry(spark).remove(name.toLowerCase)
    tableRegistry(spark).remove(name.toLowerCase)
    partRegistry(spark).remove(name.toLowerCase)
    pkRegistry(spark).remove(name.toLowerCase)
    computedRegistry(spark).remove(name.toLowerCase)
    metaRegistry(spark).remove(name.toLowerCase)
    optsRegistry(spark).remove(name.toLowerCase)
    ns(spark).tableNs.remove(name.toLowerCase)
    name
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"Flink DDL: $msg")

  /** Rethrow unless `e` is a missing-datasource/classpath failure — a
    * REAL kafka error (auth, broker, serialization) must surface as
    * itself, not be mislabeled as a classpath problem.
    */
  private def kafkaClasspathFail(e: Throwable): Nothing = {
    def missing(t: Throwable): Boolean = t != null && (
      t.isInstanceOf[ClassNotFoundException] || t.isInstanceOf[NoClassDefFoundError] ||
        Option(t.getMessage).exists(_.toLowerCase.contains("failed to find")) ||
        missing(t.getCause))
    if (missing(e))
      fail("the kafka source/sink needs spark-sql-kafka on the classpath " +
        s"(not shipped in this zero-egress build): ${e.getMessage}")
    else throw e
  }


  /** Execute the DDL: register `name` as a temp view over the translated
    * source. Returns the table name. `CREATE TABLE ... WITH (...) AS
    * SELECT ...` (Flink 1.19 CTAS, FLIP-218) routes to [[executeCtas]].
    */
  def execute(spark: SparkSession, sqlText: String): String = {
    // computed columns may use the Flink-named functions (PROCTIME etc.)
    graft.functions.GraftFunctions.register(spark)
    // CREATE TABLE ... LIKE base (...) — must be checked before the
    // plain-create path (the body column list is OPTIONAL in LIKE form);
    // a CTAS' SELECT may contain a LIKE predicate, so CTAS wins first
    if (raw"(?is)\bAS\s+SELECT\b".r.findFirstIn(sqlText).isEmpty) {
      likeTailRe.findFirstMatchIn(sqlText) match {
        case Some(lm) => return executeCreateLike(spark, sqlText, lm)
        case None     =>
      }
    }
    createRe.findFirstMatchIn(sqlText) match {
      case Some(m) => executeCreate(spark, sqlText, m)
      case None => executeCtas(spark, sqlText)
    }
  }

  private val likeTailRe =
    raw"(?is)\bLIKE\s+`?([A-Za-z_]\w*)`?\s*(?:\(([^)]*)\))?\s*$$".r
  private val createHeadRe =
    raw"(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?([A-Za-z_]\w*)`?".r

  /** `CREATE TABLE name ([extra defs]) [WITH (...)] LIKE base [(merge
    * options)]` ([U] flink-table-planner SqlCreateTable LIKE clause,
    * FLIP-110): the new table inherits the base table's schema, options,
    * watermark, primary key, computed columns, and partitioning, with
    * Flink's default merge strategies — INCLUDING everything except
    * OPTIONS, which is OVERWRITING (new WITH entries override base
    * per key). Merge options accepted: `{INCLUDING | EXCLUDING} {ALL |
    * CONSTRAINTS | PARTITIONS | OPTIONS | GENERATED | METADATA |
    * WATERMARKS}` and
    * `OVERWRITING {OPTIONS | GENERATED | METADATA | WATERMARKS}`. The base must be
    * DDL-registered in this session; extra physical/computed columns
    * append (a name collision fails, as in Flink). Subset note: only
    * connector/path/format survive as base OPTIONS (the registry's
    * canonical triple) — extra reader options must be restated.
    */
  private def executeCreateLike(spark: SparkSession, sqlText: String,
      lm: scala.util.matching.Regex.Match): String = {
    val nameM = createHeadRe.findFirstMatchIn(sqlText)
      .getOrElse(fail("bad CREATE TABLE ... LIKE statement"))
    val name = nameM.group(1)
    val base = lm.group(1)
    val (bConnector, bPath, bFmt, bSchema) = registered(spark, base).getOrElse(
      fail(s"LIKE references `$base`, which is not DDL-registered in this session"))

    // ---- merge strategies (Flink defaults) ----
    val modes = scala.collection.mutable.Map(
      "options" -> "overwriting", "watermarks" -> "including",
      "constraints" -> "including", "generated" -> "including",
      "metadata" -> "including", "partitions" -> "including")
    Option(lm.group(2)).foreach { optText =>
      val toks = optText.trim.toLowerCase.split(raw"[\s,]+").filter(_.nonEmpty)
      if (toks.length % 2 != 0) fail(s"bad LIKE merge options `$optText`")
      toks.grouped(2).foreach { case Array(verb, feature) =>
        if (!Set("including", "excluding", "overwriting")(verb))
          fail(s"bad LIKE merge verb `$verb`")
        val feats = feature match {
          case "all" =>
            if (verb == "overwriting") fail("OVERWRITING ALL is not a Flink form")
            modes.keys.toSeq
          case f if modes.contains(f) => Seq(f)
          case f => fail(s"unknown LIKE merge feature `$f`")
        }
        if (verb == "overwriting" && feats.exists(Set("constraints", "partitions")))
          fail("OVERWRITING applies to OPTIONS, GENERATED, WATERMARKS only")
        feats.foreach(f => modes(f) = verb)
      }
    }

    // ---- new-table body between the name and LIKE ----
    val head = sqlText.substring(nameM.end, lm.start)
    val bodyOpen = head.indexOf('(')
    val hasBody = bodyOpen >= 0 &&
      raw"(?is)^\s*\(".r.findFirstIn(head).isDefined
    val (colDefs, afterBody) =
      if (hasBody) {
        val close = WindowTvf.matchParen(head, bodyOpen)
        (splitColDefs(head.substring(bodyOpen + 1, close))
          .map(raw"`([A-Za-z_]\w*)`".r.replaceAllIn(_, "$1"))
          .filter(_.trim.nonEmpty), head.substring(close + 1))
      } else (Seq.empty[String], head)
    val newOpts = withRe.findFirstMatchIn(afterBody).map { wm =>
      val o = afterBody.indexOf('(', wm.end - 1)
      optRe.findAllMatchIn(afterBody.substring(o + 1, WindowTvf.matchParen(afterBody, o)))
        .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
    }.getOrElse(Map.empty[String, String])

    // extra definitions in the new body (verbatim lines; watermark/pk
    // lines carry straight into the synthesized DDL and WIN over base)
    val newWmLine = colDefs.find(w => watermarkRe.findFirstIn(w).isDefined)
    val newPkLine = colDefs.find(c => pkRe.findFirstIn(c).isDefined)
    val newColLines = colDefs.filterNot(c =>
      newWmLine.contains(c) || newPkLine.contains(c))
    val newColNames = newColLines.flatMap {
      case computedRe(n, e) if !raw"(?is)^(NOT|COMMENT)\b".r.findFirstIn(e).isDefined =>
        Some(n.toLowerCase)
      case physicalRe(n, _, _, _) => Some(n.toLowerCase)
      case _ => None
    }
    (bSchema.fieldNames.toSeq ++ metadataColumnsOf(spark, base).map(_.name) ++
      computedColumnsOf(spark, base).map(_._1))
      .find(f => newColNames.contains(f.toLowerCase)).foreach(c =>
        fail(s"LIKE: column `$c` already exists in `$base` (Flink fails on " +
          "duplicate columns too)"))

    // ---- merged pieces ----
    val baseOpts = Map("connector" -> bConnector) ++
      (if (bPath.nonEmpty) Map("path" -> bPath) else Map.empty) ++
      (if (bFmt.nonEmpty) Map("format" -> bFmt) else Map.empty)
    val opts = modes("options") match {
      case "excluding"   => newOpts
      case "including"   =>
        newOpts.keys.find(baseOpts.contains).foreach(k => fail(
          s"INCLUDING OPTIONS forbids overriding base option '$k' " +
            "(use OVERWRITING OPTIONS)"))
        baseOpts ++ newOpts
      case _ /* overwriting */ => baseOpts ++ newOpts
    }
    val basePhysical = bSchema.fields.map(physicalLine)
    val baseComputed =
      if (modes("generated") == "excluding") Seq.empty
      else computedColumnsOf(spark, base)
    val baseMeta =
      if (modes("metadata") == "excluding") Seq.empty
      else metadataColumnsOf(spark, base).map(_.render)
    val pkLine: Option[String] = newPkLine.orElse {
      if (modes("constraints") == "including")
        Some(primaryKeyOf(spark, base)).filter(_.nonEmpty)
          .map(pk => s"PRIMARY KEY (${pk.mkString(", ")}) NOT ENFORCED")
      else None
    }
    val partCols =
      if (modes("partitions") == "including") partitionsOf(spark, base) else Seq.empty
    val inheritedWm: Option[(String, String)] =
      if (newWmLine.isEmpty && modes("watermarks") != "excluding")
        watermarkOf(spark, base)
      else None

    val colLines = basePhysical.toSeq ++ baseMeta ++
      baseComputed.map { case (n, e) => s"$n AS $e" } ++
      newColLines ++ pkLine.toSeq ++ newWmLine.toSeq
    if (!opts.contains("connector"))
      fail("LIKE with EXCLUDING OPTIONS needs a 'connector' in the new WITH(...)")
    registerFromMeta(spark, name, colLines, partCols, opts, inheritedWm)
    name
  }

  /** Synthesize a canonical CREATE from already-parsed metadata and run
    * it through [[executeCreate]] (so every validation applies), then
    * patch in a registry-normalized watermark that cannot ride through
    * the synthesized text. Shared by LIKE and ALTER.
    */
  private def registerFromMeta(spark: SparkSession, name: String,
      colLines: Seq[String], partCols: Seq[String],
      opts: Map[String, String], wm: Option[(String, String)]): Unit = {
    val partClause =
      if (partCols.nonEmpty) s" PARTITIONED BY (${partCols.mkString(", ")})" else ""
    val optLines = opts.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
    val ddl =
      s"CREATE TABLE $name (\n  ${colLines.mkString(",\n  ")}\n)$partClause WITH ($optLines)"
    val m = createRe.findFirstMatchIn(ddl).getOrElse(fail("internal: bad synthesized DDL"))
    // executeCreate is validate-first / commit-last, so a failing
    // synthesized re-CREATE leaves the table's previous registration
    // (and view) untouched — the ALTER/LIKE-SET callers are atomic
    executeCreate(spark, ddl, m)
    wm.foreach(w => wmRegistry(spark).put(name.toLowerCase, w))
  }

  private val alterSetRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+`?([A-Za-z_]\w*)`?\s+SET\s*\(".r
  private val alterRenameRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+`?([A-Za-z_]\w*)`?\s+RENAME\s+TO\s+`?([A-Za-z_]\w*)`?\s*$$".r
  private val alterRenameColRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+`?([A-Za-z_]\w*)`?\s+RENAME\s+`?([A-Za-z_]\w*)`?\s+TO\s+`?([A-Za-z_]\w*)`?\s*$$".r
  private val alterAddModifyRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+`?([A-Za-z_]\w*)`?\s+(ADD|MODIFY)\s+(.+)$$".r
  private val alterDropRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+`?([A-Za-z_]\w*)`?\s+DROP\s+(.+)$$".r

  /** True iff `sqlText` is an ALTER TABLE against a DDL-registered table. */
  def isAlter(spark: SparkSession, sqlText: String): Boolean =
    (alterSetRe.findFirstMatchIn(sqlText).map(_.group(1)) orElse
      alterRenameRe.findFirstMatchIn(sqlText).map(_.group(1)) orElse
      alterRenameColRe.findFirstMatchIn(sqlText).map(_.group(1)) orElse
      alterAddModifyRe.findFirstMatchIn(sqlText).map(_.group(1)) orElse
      alterDropRe.findFirstMatchIn(sqlText).map(_.group(1)))
      .exists(registered(spark, _).isDefined)

  /** `ALTER TABLE t SET ('k' = 'v', ...)` merges connector options and
    * re-derives the view ([U] flink-table-planner SqlAlterTableOptions);
    * `ALTER TABLE t RENAME TO t2` re-registers everything under the new
    * name and drops the old one (SqlAlterTableRename). Returns the
    * (possibly new) table name.
    */
  def executeAlter(spark: SparkSession, sqlText: String): String = {
    def meta(name: String) = {
      val (c, p, f, schema) = registered(spark, name).getOrElse(
        fail(s"ALTER TABLE: `$name` is not DDL-registered in this session"))
      val colLines = schema.fields.map(physicalLine).toSeq ++
        metadataColumnsOf(spark, name).map(_.render) ++
        computedColumnsOf(spark, name).map { case (n, e) => s"$n AS $e" } ++
        Some(primaryKeyOf(spark, name)).filter(_.nonEmpty)
          .map(pk => s"PRIMARY KEY (${pk.mkString(", ")}) NOT ENFORCED").toSeq
      // the FULL registered option map — dropping to connector/path/format
      // would wipe csv delimiters, kafka topics, datagen row counts, ...
      val opts = optionsOf(spark, name) ++ Map("connector" -> c) ++
        (if (p.nonEmpty) Map("path" -> p) else Map.empty) ++
        (if (f.nonEmpty) Map("format" -> f) else Map.empty)
      (colLines, partitionsOf(spark, name), opts, watermarkOf(spark, name))
    }
    alterRenameRe.findFirstMatchIn(sqlText) match {
      case Some(m) =>
        val (oldName, newName) = (m.group(1), m.group(2))
        // Flink rejects both: a self-rename would re-register then DROP
        // the very same key (destroying the table), and renaming onto an
        // existing table would silently clobber its definition
        if (oldName.equalsIgnoreCase(newName))
          fail(s"RENAME TO: `$newName` is the table's current name")
        if (registered(spark, newName).isDefined)
          fail(s"RENAME TO: a table named `$newName` already exists")
        val (colLines, parts, opts, wm) = meta(oldName)
        registerFromMeta(spark, newName, colLines, parts, opts, wm)
        executeDrop(spark, s"DROP TABLE $oldName")
        return newName
      case None =>
    }
    alterRenameColRe.findFirstMatchIn(sqlText) match {
      case Some(m) => return alterColumns(spark, m.group(1), "RENAME",
        s"${m.group(2)} TO ${m.group(3)}")
      case None =>
    }
    alterAddModifyRe.findFirstMatchIn(sqlText) match {
      case Some(m) if registered(spark, m.group(1)).isDefined =>
        return alterColumns(spark, m.group(1), m.group(2).toUpperCase, m.group(3))
      case _ =>
    }
    alterDropRe.findFirstMatchIn(sqlText) match {
      case Some(m) if registered(spark, m.group(1)).isDefined =>
        return alterColumns(spark, m.group(1), "DROP", m.group(2))
      case _ =>
    }
    val m = alterSetRe.findFirstMatchIn(sqlText).getOrElse(fail(
      "unsupported ALTER TABLE form (supported: SET ('k'='v', ...), RENAME TO t, " +
        "ADD/MODIFY/DROP columns, RENAME col TO col, ADD/MODIFY/DROP WATERMARK/PRIMARY KEY)"))
    val name = m.group(1)
    val open = m.end - 1
    val close = WindowTvf.matchParen(sqlText, open)
    val newOpts = optRe.findAllMatchIn(sqlText.substring(open + 1, close))
      .map(o => o.group(1).toLowerCase -> o.group(2)).toMap
    val (colLines, parts, opts, wm) = meta(name)
    registerFromMeta(spark, name, colLines, parts, opts ++ newOpts, wm)
    name
  }

  /** Flink 1.19 schema evolution ([U] flink-sql-parser
    * SqlAlterTableAdd / SqlAlterTableModify / SqlAlterTableDropColumn /
    * SqlAlterTableRenameColumn): ADD/MODIFY of single or parenthesized
    * column lists with optional `FIRST` / `AFTER col` positions,
    * ADD/MODIFY WATERMARK and PRIMARY KEY, DROP of columns / WATERMARK /
    * PRIMARY KEY, RENAME col TO col. The registry re-derives the reading
    * view from the evolved schema, so parquet files written before the
    * evolution read back with nulls for added columns, pruned dropped
    * columns, and widened types (Spark's parquet reader upcasts).
    */
  private def alterColumns(spark: SparkSession, name: String, verb: String,
      payloadRaw: String): String = {
    val (connector, path, fmt, schema) = registered(spark, name).getOrElse(
      fail(s"ALTER TABLE: `$name` is not DDL-registered in this session"))
    val phys = scala.collection.mutable.ArrayBuffer(
      schema.fields.map(f0 => (f0.name, typeLine(f0))): _*)
    var computed = computedColumnsOf(spark, name)
    var metaC = metadataColumnsOf(spark, name)
    var pk = primaryKeyOf(spark, name)
    val parts = partitionsOf(spark, name)
    var wm = watermarkOf(spark, name)
    // the FULL registered option map (csv delimiters, kafka topics, ...)
    var opts = optionsOf(spark, name) ++ Map("connector" -> connector) ++
      (if (path.nonEmpty) Map("path" -> path) else Map.empty) ++
      (if (fmt.nonEmpty) Map("format" -> fmt) else Map.empty)
    def exists(c: String) = phys.exists(_._1.equalsIgnoreCase(c)) ||
      computed.exists(_._1.equalsIgnoreCase(c)) ||
      metaC.exists(_.name.equalsIgnoreCase(c))
    // whole-identifier reference check (`price * 2` does NOT refer to `i`)
    def refersTo(expr: String, c: String): Boolean =
      raw"(?i)\b${java.util.regex.Pattern.quote(c)}\b".r.findFirstIn(expr).isDefined
    // split a parenthesized list on top-level commas ([[splitColDefs]]:
    // ROW<a INT, b INT> and DECIMAL(10,2) must not split, and a computed
    // spec's `a < b` must not unbalance the scan)
    def splitSpecs(s: String): Seq[String] = {
      val t = s.trim
      val body =
        if (t.startsWith("(") && WindowTvf.matchParen(t, 0) == t.length - 1)
          t.substring(1, t.length - 1)
        else t
      splitColDefs(body)
    }
    val posRe = raw"(?is)^(.*?)\s+(?:(FIRST)|AFTER\s+`?([A-Za-z_]\w*)`?)\s*$$".r
    val commentRe = raw"(?is)^(.*?)\s+COMMENT\s+'[^']*'\s*$$".r
    val colSpecRe = raw"(?is)^`?([A-Za-z_]\w*)`?\s+(.+)$$".r
    def place(n: String, tpe: String, pos: Option[Either[Unit, String]]): Unit = {
      val entry = (n, tpe)
      pos match {
        case None => phys += entry
        case Some(Left(())) => phys.insert(0, entry)
        case Some(Right(after)) =>
          val i = phys.indexWhere(_._1.equalsIgnoreCase(after))
          if (i < 0) fail(s"ALTER TABLE $name: AFTER `$after` — no such column")
          phys.insert(i + 1, entry)
      }
    }
    def parseWatermark(spec: String): Unit = watermarkRe.findFirstMatchIn(spec) match {
      case Some(wmm) =>
        val c = wmm.group(1)
        if (!exists(c)) fail(s"ALTER TABLE $name: WATERMARK column `$c` does not exist")
        wm = Some((c, watermarkDelay(c, wmm.group(2))))
      case None => fail(s"ALTER TABLE $name: malformed WATERMARK clause")
    }
    verb match {
      case "ADD" | "MODIFY" =>
        splitSpecs(payloadRaw).foreach { spec0 =>
          if (watermarkRe.findFirstIn(spec0).isDefined) parseWatermark(spec0)
          else if (metadataColRe.findFirstIn(spec0).isDefined) {
            val mc = metadataColOf(metadataColRe.findFirstMatchIn(spec0).get)
            if (verb == "ADD") {
              if (exists(mc.name))
                fail(s"ALTER TABLE $name: column `${mc.name}` already exists")
              metaC :+= mc
            } else {
              if (!metaC.exists(_.name.equalsIgnoreCase(mc.name)))
                fail(s"ALTER TABLE $name: cannot MODIFY unknown metadata column `${mc.name}`")
              metaC = metaC.map(e => if (e.name.equalsIgnoreCase(mc.name)) mc else e)
            }
          }
          else pkRe.findFirstMatchIn(spec0) match {
            case Some(pkm) =>
              val cols = pkm.group(1).split(",").map(_.trim)
              cols.foreach(c => if (!exists(c))
                fail(s"ALTER TABLE $name: PRIMARY KEY column `$c` does not exist"))
              pk = cols.toSeq
            case None =>
              // column spec: name type [COMMENT '...'] [FIRST | AFTER col]
              var spec = spec0
              val pos = posRe.findFirstMatchIn(spec) match {
                case Some(pm) if pm.group(2) != null => spec = pm.group(1); Some(Left(()))
                case Some(pm) if pm.group(3) != null => spec = pm.group(1); Some(Right(pm.group(3)))
                case _ => None
              }
              commentRe.findFirstMatchIn(spec).foreach(cm => spec = cm.group(1))
              val (cn, tpe) = spec.trim match {
                case colSpecRe(n0, t0) => (n0, t0.trim)
                case other => fail(s"ALTER TABLE $name: malformed column spec `$other`")
              }
              if (verb == "ADD") {
                if (exists(cn)) fail(s"ALTER TABLE $name: column `$cn` already exists")
                place(cn, tpe, pos)
              } else {
                val i = phys.indexWhere(_._1.equalsIgnoreCase(cn))
                if (i < 0) fail(s"ALTER TABLE $name: cannot MODIFY unknown column `$cn`" +
                  (if (computed.exists(_._1.equalsIgnoreCase(cn)))
                    " (it is a computed column)" else ""))
                if (pos.isEmpty) phys(i) = (phys(i)._1, tpe)
                else { phys.remove(i); place(cn, tpe, pos) }
              }
          }
        }
      case "DROP" =>
        val t = payloadRaw.trim
        if (raw"(?is)^WATERMARK\s*$$".r.findFirstIn(t).isDefined) wm = None
        else if (raw"(?is)^PRIMARY\s+KEY\s*$$".r.findFirstIn(t).isDefined) pk = Seq.empty
        else splitSpecs(t).foreach { c0 =>
          val c = c0.stripPrefix("`").stripSuffix("`")
          if (wm.exists(_._1.equalsIgnoreCase(c)))
            fail(s"ALTER TABLE $name: `$c` carries the watermark; DROP WATERMARK first")
          if (pk.exists(_.equalsIgnoreCase(c)))
            fail(s"ALTER TABLE $name: `$c` is in the primary key; DROP PRIMARY KEY first")
          if (parts.exists(_.equalsIgnoreCase(c)))
            fail(s"ALTER TABLE $name: cannot drop partition column `$c`")
          if (computed.exists(_._1.equalsIgnoreCase(c)))
            computed = computed.filterNot(_._1.equalsIgnoreCase(c))
          else if (metaC.exists(_.name.equalsIgnoreCase(c))) {
            if (computed.exists(e => refersTo(e._2, c)))
              fail(s"ALTER TABLE $name: `$c` is referenced by a computed column")
            metaC = metaC.filterNot(_.name.equalsIgnoreCase(c))
          } else {
            val i = phys.indexWhere(_._1.equalsIgnoreCase(c))
            if (i < 0) fail(s"ALTER TABLE $name: no such column `$c`")
            if (computed.exists(e => refersTo(e._2, c)))
              fail(s"ALTER TABLE $name: `$c` is referenced by a computed column")
            phys.remove(i)
          }
          // per-field connector options (datagen fields.<col>.*) go with
          // the column — a stale key would fail re-registration forever
          opts = opts.filterNot(_._1.startsWith(s"fields.${c.toLowerCase}."))
        }
      case "RENAME" =>
        val rm = raw"(?is)^([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)$$".r
          .findFirstMatchIn(payloadRaw).getOrElse(fail("malformed RENAME col TO col"))
        val (from, to) = (rm.group(1), rm.group(2))
        if (exists(to)) fail(s"ALTER TABLE $name: column `$to` already exists")
        // the on-disk partition directories carry the OLD name — a
        // renamed partition column would orphan them (same guard as DROP)
        if (parts.exists(_.equalsIgnoreCase(from)))
          fail(s"ALTER TABLE $name: cannot rename partition column `$from`")
        val i = phys.indexWhere(_._1.equalsIgnoreCase(from))
        if (i >= 0) phys(i) = (to, phys(i)._2)
        else if (computed.exists(_._1.equalsIgnoreCase(from)))
          computed = computed.map(e =>
            if (e._1.equalsIgnoreCase(from)) (to, e._2) else e)
        else if (metaC.exists(_.name.equalsIgnoreCase(from)))
          // the metadata KEY stays: renaming the column does not re-point
          // it at a different connector key (the FROM was explicit or
          // captured at declaration)
          metaC = metaC.map(e =>
            if (e.name.equalsIgnoreCase(from)) e.copy(name = to) else e)
        else fail(s"ALTER TABLE $name: no such column `$from`")
        if (computed.exists(e => refersTo(e._2, from)))
          fail(s"ALTER TABLE $name: `$from` is referenced by a computed column")
        pk = pk.map(c => if (c.equalsIgnoreCase(from)) to else c)
        wm = wm.map { case (c, d) => (if (c.equalsIgnoreCase(from)) to else c, d) }
        // rename rides the per-field connector options too
        opts = opts.map { case (k, v) =>
          val pre = s"fields.${from.toLowerCase}."
          if (k.startsWith(pre)) (s"fields.${to.toLowerCase}." + k.stripPrefix(pre), v)
          else (k, v)
        }
      case other => fail(s"unsupported ALTER TABLE verb $other")
    }
    if (phys.isEmpty) fail(s"ALTER TABLE $name: a table needs at least one physical column")
    val colLines = phys.toSeq.map { case (n0, t0) => s"$n0 $t0" } ++
      metaC.map(_.render) ++
      computed.map { case (n0, e) => s"$n0 AS $e" } ++
      Some(pk).filter(_.nonEmpty)
        .map(k => s"PRIMARY KEY (${k.mkString(", ")}) NOT ENFORCED").toSeq
    registerFromMeta(spark, name, colLines, parts, opts, wm)
    name
  }

  /** CTAS: run the SELECT, write it to the filesystem sink, register
    * the view over the written data (schema = the SELECT's). Only the
    * filesystem connector can host CTAS here (datagen/print/blackhole
    * have no storage).
    */
  private def executeCtas(spark: SparkSession, sqlText: String): String = {
    val m = ctasRe.findFirstMatchIn(sqlText).getOrElse(fail("not a CREATE TABLE"))
    val name = m.group(1)
    val withOpen = m.end - 1
    val withClose = WindowTvf.matchParen(sqlText, withOpen)
    val opts = optRe.findAllMatchIn(sqlText.substring(withOpen + 1, withClose))
      .map(o => o.group(1).toLowerCase -> o.group(2)).toMap
    val select = raw"(?is)^\s*AS\s+(SELECT\b.*)$$".r
      .findFirstMatchIn(sqlText.substring(withClose + 1))
      .map(m => applyOptionsHints(spark, m.group(1)))
      .getOrElse(fail("CTAS requires `AS SELECT ...` after WITH (...)"))
    if (opts.getOrElse("connector", fail("'connector' option is required")) != "filesystem")
      fail("CTAS is supported for the filesystem connector only")
    val path = opts.getOrElse("path", fail("filesystem connector requires 'path'"))
    val fmt = opts.getOrElse("format", fail("filesystem connector requires 'format'"))
    val df = spark.sql(select)
    df.write.format(fmt).mode("overwrite").save(path)
    // commit-last, like executeCreate: a failed SELECT or write leaves
    // any previous registration of the name untouched
    readFs(spark, fmt, df.schema, path, opts).createOrReplaceTempView(name)
    wmRegistry(spark).remove(name.toLowerCase)
    partRegistry(spark).remove(name.toLowerCase)
    pkRegistry(spark).remove(name.toLowerCase)
    computedRegistry(spark).remove(name.toLowerCase)
    metaRegistry(spark).remove(name.toLowerCase)
    tableRegistry(spark).put(name.toLowerCase, ("filesystem", path, fmt, df.schema))
    optsRegistry(spark).put(name.toLowerCase, opts)
    recordTableNs(spark, name)
    name
  }

  /** Execute a CREATE TABLE: parse, validate, build the reading plan —
    * ALL without touching session state — then commit the view swap and
    * the seven registries as the last step. A failing CREATE therefore
    * leaves any previous registration of the name EXACTLY as it was,
    * which makes the ALTER/LIKE callers (synthesized re-CREATEs through
    * [[registerFromMeta]]) atomic for free.
    */
  private def executeCreate(spark: SparkSession, sqlText: String,
      m: scala.util.matching.Regex.Match): String = {
    val name = m.group(1)
    val colsClose = WindowTvf.matchParen(sqlText, m.end - 1)
    // Flink DDL may backtick-quote identifiers (SHOW CREATE TABLE emits
    // them); plain-identifier quotes carry no information — strip before
    // the definition regexes
    val colDefs = splitColDefs(sqlText.substring(m.end, colsClose))
      .map(raw"`([A-Za-z_]\w*)`".r.replaceAllIn(_, "$1"))
    // Flink's partitioned filesystem table: PARTITIONED BY between the
    // column list and WITH — written as Spark partition directories, so
    // reads get partition pruning (the 100 TB layout lever)
    val partitionCols = partitionedRe.findFirstMatchIn(sqlText.substring(colsClose + 1))
      .map { pm =>
        val pOpen = colsClose + 1 + pm.end - 1
        sqlText.substring(pOpen + 1, WindowTvf.matchParen(sqlText, pOpen))
          .split(",").toSeq.map(_.trim.stripPrefix("`").stripSuffix("`"))
      }.getOrElse(Seq.empty)
    val wm = withRe.findFirstMatchIn(sqlText.substring(colsClose + 1))
      .getOrElse(fail("WITH ('connector' = ...) options are required"))
    val withOpen = colsClose + 1 + wm.end - 1
    val withClose = WindowTvf.matchParen(sqlText, withOpen)
    val opts = optRe.findAllMatchIn(sqlText.substring(withOpen + 1, withClose))
      .map(o => o.group(1).toLowerCase -> o.group(2)).toMap

    var physical = Vector.empty[(String, String)] // (name, spark type DDL)
    var computed = Vector.empty[(String, String)] // (name, expr)
    var metaCols = Vector.empty[MetadataCol]
    var notNullCols = Set.empty[String] // lowercase names declared NOT NULL
    var primaryKey = Seq.empty[String]
    var watermark: Option[(String, String)] = None // held locally until commit
    colDefs.foreach {
      case w if watermarkRe.findFirstIn(w).isDefined =>
        val wmm = watermarkRe.findFirstMatchIn(w).get
        watermark = Some((wmm.group(1), watermarkDelay(wmm.group(1), wmm.group(2))))
      case pkRe(cols) => // not enforced (Flink doesn't either); CDC formats key on it
        primaryKey = cols.split(",").toSeq.map(_.trim)
      case md if metadataColRe.findFirstIn(md).isDefined =>
        metaCols :+= metadataColOf(metadataColRe.findFirstMatchIn(md).get)
      case computedRe(n, expr) if !raw"(?is)^(NOT|COMMENT)\b".r.findFirstIn(expr).isDefined =>
        computed :+= (n -> expr)
      case physicalRe(n, tpe, notNull, _) =>
        physical :+= (n -> sparkType(tpe.trim))
        if (notNull != null) notNullCols += n.toLowerCase
      case other => fail(s"unsupported column definition `$other`")
    }
    if (physical.isEmpty) fail("at least one physical column is required")
    // duplicate names across the three column kinds would otherwise
    // silently shadow (withColumn replaces same-named columns)
    val allNames = physical.map(_._1) ++ metaCols.map(_.name) ++ computed.map(_._1)
    allNames.map(_.toLowerCase).diff(allNames.map(_.toLowerCase).distinct)
      .headOption.foreach(d => fail(s"duplicate column name `$d`"))
    // NOT NULL rides into the registry schema (DESCRIBE's null column,
    // SHOW CREATE's round-trip); file scans still read nullably — the
    // constraint is declarative, as in Flink (NOT ENFORCED semantics)
    val schema = StructType.fromDDL(physical.map { case (n, t) =>
      s"$n $t" + (if (notNullCols.contains(n.toLowerCase)) " NOT NULL" else "")
    }.mkString(", "))

    if (partitionCols.nonEmpty)
      partitionCols.find(c => !schema.fieldNames.contains(c)).foreach(c =>
        fail(s"PARTITIONED BY column `$c` is not a physical column"))
    val connector = opts.getOrElse("connector", fail("'connector' option is required"))
    validateMetadata(connector, opts, metaCols)
    // building the DataFrame analyzes the whole reading plan (connector
    // options, metadata expressions, computed-column references) —
    // every remaining failure mode fires HERE, before any state change
    val base = connectorRead(spark, schema, physical, primaryKey, opts, metaCols)
    val df = if (computed.isEmpty) base
      else base.selectExpr("*" +: computed.map { case (n, e) => s"($e) AS $n" }: _*)

    // ---- COMMIT: nothing above mutates session state ----
    df.createOrReplaceTempView(name)
    val key = name.toLowerCase
    // a re-registration drops every stale attribute of the old name
    wmRegistry(spark).remove(key)
    partRegistry(spark).remove(key)
    pkRegistry(spark).remove(key)
    computedRegistry(spark).remove(key)
    metaRegistry(spark).remove(key)
    tableRegistry(spark).put(key,
      (connector, opts.getOrElse("path", ""), opts.getOrElse("format", ""), schema))
    optsRegistry(spark).put(key, opts)
    recordTableNs(spark, name)
    watermark.foreach(wmRegistry(spark).put(key, _))
    if (primaryKey.nonEmpty) pkRegistry(spark).put(key, primaryKey)
    if (computed.nonEmpty) computedRegistry(spark).put(key, computed)
    if (metaCols.nonEmpty) metaRegistry(spark).put(key, metaCols)
    if (partitionCols.nonEmpty) partRegistry(spark).put(key, partitionCols)
    name
  }

  private val insertRe =
    raw"(?is)^\s*INSERT\s+(INTO|OVERWRITE)\s+([A-Za-z_]\w*)\s*(?:PARTITION\s*\(\s*([^)]*?)\s*\)\s*)?(?:\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?\s+(SELECT\b.*|VALUES\b.*)$$".r

  /** Parse `k='v', k2=3` static-partition assignments. */
  private def staticPartitionSpec(spec: String): Seq[(String, String)] =
    WindowTvf.splitArgs(spec).filter(_.nonEmpty).map { a =>
      val kv = raw"(?is)^([A-Za-z_]\w*)\s*=\s*(?:'([^']*)'|(\S+))$$".r
      a.trim match {
        case kv(k, q, u) => (k, Option(q).getOrElse(u))
        case other => fail(s"PARTITION clause: expected k='v', got `$other`")
      }
    }

  /** True iff `sqlText` is INSERT INTO/OVERWRITE a table DDL-registered
    * in this session — the statement shape every Flink pipeline ends
    * with.
    */
  def isInsert(spark: SparkSession, sqlText: String): Boolean =
    insertRe.findFirstMatchIn(sqlText).exists(m => registered(spark, m.group(2)).isDefined)

  /** Execute INSERT INTO/OVERWRITE a DDL-registered sink: `blackhole`
    * discards via Spark's noop writer (the load-test shape), `print`
    * shows the rows, `filesystem` appends — or replaces, for OVERWRITE —
    * with the declared format (partitioned tables overwrite only the
    * TOUCHED partitions, Flink's dynamic INSERT OVERWRITE semantics,
    * via Spark's dynamic partitionOverwriteMode). Returns the sunk row
    * count (Flink's INSERT result is a job handle; a count is the batch
    * analog).
    */
  // Flink's WINDOWED TOP-N streaming statement shape: ROW_NUMBER() OVER
  // (PARTITION BY ... window_start ...) over a window-TVF aggregate
  private val winTopNRe =
    raw"(?is)ROW_NUMBER\s*\(\s*\)\s+OVER\s*\(\s*PARTITION\s+BY[^)]*\bwindow_start\b".r

  /** The two foreachBatch deployment shapes — one definition each,
    * shared by the pre-binding guard and the routing so a future change
    * to either predicate cannot desynchronize them.
    */
  private def isCumulateDeploy(select: String): Boolean =
    WindowTvf.containsClause(select) &&
      WindowTvf.firstSpanFn(select).contains("CUMULATE")
  private def isWinTopNDeploy(select: String): Boolean =
    WindowTvf.containsClause(select) && winTopNRe.findFirstIn(select).isDefined

  /** A table used as an INSERT sink must declare its METADATA columns
    * VIRTUAL — Flink's own rule for read-only metadata, and this
    * translation persists none (no writable connector metadata here).
    */
  private def requireVirtualMetadata(spark: SparkSession, name: String): Unit =
    metadataColumnsOf(spark, name).find(!_.virtual).foreach(m =>
      fail(s"INSERT INTO $name: metadata column `${m.name}` is not VIRTUAL — " +
        "metadata persistence is not modeled here; declare it " +
        s"`${m.name} ${m.typeDdl} METADATA FROM '${m.key}' VIRTUAL` to exclude " +
        "it from the sink schema"))

  /** Map an INSERT SELECT's output onto the sink's declared schema —
    * POSITIONALLY (Flink/SQL semantics: query names don't matter), or
    * through a `(col, ...)` list by name with NULL fill for unlisted
    * columns — with `PARTITION (k='v')` static pins as typed literals
    * and declared-type casts; output arrives in declared column order.
    * The ONE sink-mapping contract, shared by the batch and streaming
    * INSERT paths.
    */
  private def mapSelectToSink(spark: SparkSession, name: String, schema: StructType,
      selected: DataFrame, statics: Seq[(String, String)],
      listed: Seq[String]): DataFrame = {
    statics.foreach { case (k, _) =>
      if (!partitionsOf(spark, name).contains(k))
        fail(s"PARTITION ($k=...): `$k` is not a partition column of $name")
    }
    val staticKeys = statics.map(_._1).toSet
    val dynFields = schema.fields.toSeq.filterNot(f => staticKeys.contains(f.name))
    def withStatics(d: DataFrame): DataFrame =
      statics.foldLeft(d) { case (acc, (k, v)) =>
        val dt = schema.fields.find(_.name == k).get.dataType
        acc.withColumn(k, lit(v).cast(dt))
      }.select(schema.fields.toSeq.map(f => col(s"`${f.name}`")): _*)
    if (listed.isEmpty) {
      if (selected.columns.length != dynFields.length)
        fail(s"INSERT query produces ${selected.columns.length} columns " +
          s"but $name declares ${dynFields.length}" +
          (if (statics.nonEmpty) s" (after the static PARTITION clause)" else ""))
      // rename positionally first (duplicate query-output names are
      // legal SQL), then cast to the declared types
      withStatics(selected.toDF(dynFields.map(_.name): _*)
        .select(dynFields.map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*))
    } else {
      listed.find(c => !schema.fieldNames.contains(c)).foreach(c =>
        fail(s"INSERT column `$c` is not a column of $name"))
      listed.find(staticKeys.contains).foreach(c =>
        fail(s"INSERT column `$c` is already pinned by the PARTITION clause"))
      if (listed.length != selected.columns.length)
        fail(s"INSERT column list has ${listed.length} columns but the " +
          s"query produces ${selected.columns.length}")
      val byName = listed.zip(selected.columns).toMap
      withStatics(selected.select(dynFields.map { f =>
        byName.get(f.name)
          .map(src => col(s"`$src`").cast(f.dataType).as(f.name))
          .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }: _*))
    }
  }

  def executeInsert(spark: SparkSession, sqlText: String): Long = {
    val m = insertRe.findFirstMatchIn(sqlText).getOrElse(fail("not an INSERT INTO"))
    val overwrite = m.group(1).equalsIgnoreCase("OVERWRITE")
    val name = m.group(2)
    val (connector, path, fmt, schema) = registered(spark, name).getOrElse(fail(s"unknown table $name"))
    requireVirtualMetadata(spark, name)
    // the SELECT body parses through the DIALECT chain, so an INSERT can
    // carry the full Flink surface (window TVFs, UNNEST, bracket
    // constructors, LOOKUP/STATE_TTL hints, OPTIONS hints — the parser
    // chain applies applyOptionsHints itself) on a plain session too
    val bodyParser = new GraftSqlParser(spark, spark.sessionState.sqlParser)
    val selected = org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      bodyParser.parsePlan(m.group(5)))
    // Flink's STATIC partition clause: `PARTITION (k='v')` pins the
    // listed partition columns to literals; the SELECT supplies the rest
    val statics = Option(m.group(3)).map(staticPartitionSpec).getOrElse(Seq.empty)
    val df = mapSelectToSink(spark, name, schema, selected, statics,
      Option(m.group(4)).map(_.split(",").toSeq.map(_.trim)).getOrElse(Seq.empty))
    connector match {
      case "blackhole" => df.write.format("noop").mode("overwrite").save()
      case "print" => df.show(20, truncate = false)
      case "filesystem" =>
        // a declared PARTITIONED BY layout writes partition directories
        df.write.format(fmt).partitionBy(partitionsOf(spark, name): _*)
          .option("partitionOverwriteMode", "dynamic")
          .mode(if (overwrite) "overwrite" else "append").save(path)
        // the view may have been registered over a then-absent path;
        // re-point it at the written data (full view: metadata +
        // computed columns re-attach, reader options re-apply)
        rebindView(spark, name)
      case "kafka" | "upsert-kafka" =>
        // plan-level encode (graft.sources.KafkaDdl), then Spark's own
        // kafka batch writer — which needs spark-sql-kafka on the
        // classpath (absent in this zero-egress build; encode itself is
        // round-trip-tested offline)
        val enc = graft.sources.KafkaDdl.encode(df, optionsOf(spark, name),
          schema, primaryKeyOf(spark, name))
        try enc.write.format("kafka")
          .options(graft.sources.KafkaDdl.translateSink(optionsOf(spark, name))).save()
        catch {
          case e: Exception => kafkaClasspathFail(e)
          case e: NoClassDefFoundError => kafkaClasspathFail(e)
        }
      case other => fail(s"INSERT INTO a '$other' table is not supported")
    }
    df.count()
  }

  private val deleteRe =
    raw"(?is)^\s*DELETE\s+FROM\s+`?([A-Za-z_]\w*)`?(?:\s+WHERE\s+(.+?))?\s*$$".r
  private val updateRe =
    raw"(?is)^\s*UPDATE\s+`?([A-Za-z_]\w*)`?\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*$$".r

  /** True iff `sqlText` is a row-level DELETE/UPDATE against a table
    * this session's DDL registered (FLIP-282).
    */
  def isRowLevel(spark: SparkSession, sqlText: String): Boolean =
    (deleteRe.findFirstMatchIn(sqlText).map(_.group(1)) orElse
      updateRe.findFirstMatchIn(sqlText).map(_.group(1)))
      .exists(n => registered(spark, n).isDefined)

  /** Row-level DELETE FROM / UPDATE ... SET (the reference's batch
    * row-level modifications, FLIP-282 / 1.17+ [U] flink-table-api
    * SupportsRowLevelDelete/Update): supported for filesystem connector
    * tables, Flink's "rewrite the files" strategy made explicit — the
    * surviving/updated rows stage to a sibling directory FIRST (a
    * lazy-plan overwrite of the path being read would corrupt it), then
    * swap in via filesystem rename, then the view re-registers. The
    * WHERE condition evaluates against the full view (computed columns
    * usable in predicates); only physical columns persist, and UPDATE
    * may only assign physical columns, like the reference. Returns the
    * affected-row count (Flink's OkStatus row count).
    */
  def executeRowLevel(spark: SparkSession, sqlText: String): Long = {
    val (name, setClause, where, isDelete) =
      deleteRe.findFirstMatchIn(sqlText) match {
        case Some(d) => (d.group(1), null, Option(d.group(2)), true)
        case None =>
          val u = updateRe.findFirstMatchIn(sqlText)
            .getOrElse(fail("not a DELETE/UPDATE statement"))
          (u.group(1), u.group(2), Option(u.group(3)), false)
      }
    val (connector, path, fmt, schema) = registered(spark, name)
      .getOrElse(fail(s"unknown table $name"))
    if (connector != "filesystem")
      fail(s"${if (isDelete) "DELETE" else "UPDATE"} supports filesystem tables, not '$connector'")
    if (cdcDecoders.contains(fmt))
      fail("row-level modifications over CDC-format tables are not supported " +
        "(the changelog IS the modification record)")
    val view = spark.table(name)
    val cond = where.map(expr).getOrElse(lit(true))
    val affected = view.filter(cond).count()
    val physical = schema.fields.toSeq
    val out: DataFrame =
      if (isDelete) {
        // survivors: rows where the condition is false OR null (SQL
        // DELETE removes only definite matches)
        view.filter(!coalesce(cond, lit(false)))
          .select(physical.map(f => col(f.name)): _*)
      } else {
        val assigns = WindowTvf.splitArgs(setClause).map { a =>
          val mm = raw"(?is)^`?([A-Za-z_]\w*)`?\s*=\s*(.+)$$".r.findFirstMatchIn(a)
            .getOrElse(fail(s"unsupported SET clause `$a`"))
          mm.group(1) -> mm.group(2)
        }.toMap
        assigns.keys.find(c => !schema.fieldNames.contains(c)).foreach(c =>
          fail(s"UPDATE SET `$c`: not a physical column of $name"))
        val hit = coalesce(cond, lit(false))
        view.select(physical.map { f =>
          assigns.get(f.name)
            .map(e => when(hit, expr(e).cast(f.dataType)).otherwise(col(f.name))
              .as(f.name))
            .getOrElse(col(f.name))
        }: _*)
      }
    // stage → swap: materialize the rewrite BEFORE touching the source
    val hconf = spark.sessionState.newHadoopConf()
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(hconf)
    val stage = new org.apache.hadoop.fs.Path(path + "__rowlevel_stage")
    out.write.format(fmt).partitionBy(partitionsOf(spark, name): _*)
      .mode("overwrite").save(stage.toString)
    if (!fs.delete(target, true) && fs.exists(target))
      fail(s"could not replace '$path'")
    if (!fs.rename(stage, target)) fail(s"could not swap staged rewrite into '$path'")
    rebindView(spark, name)
    spark.catalog.refreshTable(name)
    affected
  }

  /** Streaming INSERT INTO — Flink's actual deployment shape: the
    * SELECT's DDL-registered filesystem sources become `readStream`s
    * (with their declared watermarks) and the sink becomes a
    * `writeStream` (filesystem → file sink in append mode, the
    * Flink file-sink analog; blackhole → noop; print → console; the
    * latter two in update mode when the query refines aggregates,
    * Flink's retract emission). Runs with the given trigger —
    * `AvailableNow` by default, the bounded "process what's there then
    * stop" mode — and returns the started StreamingQuery. Source views
    * are re-pointed at their batch reads once the query starts, so the
    * session's other statements keep batch semantics.
    */
  def executeInsertStream(spark: SparkSession, sqlText: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val m = insertRe.findFirstMatchIn(sqlText).getOrElse(fail("not an INSERT INTO"))
    if (m.group(1).equalsIgnoreCase("OVERWRITE"))
      fail("INSERT OVERWRITE is a batch statement; streaming sinks append")
    // static PARTITION pins and column lists deploy on the generic path
    // (mapped exactly like batch executeInsert); the windowed deployment
    // shapes (CUMULATE / windowed Top-N) re-run the user's statement
    // verbatim inside foreachBatch and cannot re-map it — clear error
    val statics = Option(m.group(3)).map(staticPartitionSpec).getOrElse(Seq.empty)
    val listed = Option(m.group(4))
      .map(_.split(",").toSeq.map(_.trim)).getOrElse(Seq.empty)
    val name = m.group(2)
    // consume Flink's key-value hints (LOOKUP / STATE_TTL) BEFORE the
    // deployment-shape routing: their 'k'='v' argument text would
    // confuse the shape parsers, and the recorded STATE_TTL must be
    // readable when the streaming OVER lowering builds its kernels
    // (the generic path re-parses through GraftSqlParser, which resets
    // the per-statement TTL scope itself)
    FlinkHints.clearStateTtl(spark)
    val noKv =
      if (FlinkHints.containsClause(m.group(5))) FlinkHints.rewrite(spark, m.group(5))
      else m.group(5)
    val select = applyOptionsHints(spark, noKv)
    val (connector, path, fmt, _) = registered(spark, name).getOrElse(fail(s"unknown table $name"))
    requireVirtualMetadata(spark, name)
    // the windowed deployment shapes (CUMULATE / windowed Top-N) re-run
    // the user's statement verbatim inside foreachBatch and cannot
    // re-map a column list / static PARTITION pin — fail BEFORE any
    // source view is stream-bound, so the session state stays clean
    // (same predicates as the routing below, shared so they cannot drift)
    if ((statics.nonEmpty || listed.nonEmpty) &&
        (isCumulateDeploy(select) || isWinTopNDeploy(select)))
      fail("static PARTITION clauses / column lists are not supported for " +
        "the windowed streaming deployment shapes (CUMULATE, windowed " +
        "Top-N); select every sink column")
    // Flink jobs layer views over sources: collect the views the SELECT
    // references (transitively) so their bodies join the source scan AND
    // the view chain can re-bind onto the streaming sources below
    val allViews = viewDefs(spark)
    def viewRefs(text: String): Set[String] = allViews.map(_._1).filter(v =>
      raw"(?i)\b${java.util.regex.Pattern.quote(v)}\b".r.findFirstIn(text).isDefined).toSet
    var needed = viewRefs(select)
    var grew = true
    while (grew) {
      val more = needed ++ needed.flatMap(v =>
        viewRefs(allViews.find(_._1 == v).get._3))
      grew = more.size != needed.size
      needed = more
    }
    val neededViews = allViews.filter(t => needed(t._1))
    val detectText = (select +: neededViews.map(_._3)).mkString(" ")
    // every DDL filesystem table the SELECT (or a referenced view) reads
    val sources = tableRegistry(spark).entrySet().toArray(
        Array.empty[java.util.Map.Entry[String, (String, String, String, StructType)]])
      .map(_.getKey)
      .filter(t => t != name.toLowerCase &&
        raw"(?i)\b${java.util.regex.Pattern.quote(t)}\b".r.findFirstIn(detectText).isDefined &&
        registered(spark, t).exists(_._1 == "filesystem"))
    if (sources.isEmpty) fail("streaming INSERT needs at least one DDL filesystem source in the SELECT")
    sources.foreach(t => readStream(spark, t).createOrReplaceTempView(t))
    // re-bind the referenced view chain (registration order) so each
    // captures the STREAMING source plans
    neededViews.foreach { case (_, createSql, _) => runDialectSql(spark, createSql) }
    // a MATCH_RECOGNIZE clause routes onto the streaming NFA (the CEP
    // deployment shape); a window TVF routes onto the NATIVE window()
    // grouping (WindowTvf.rewriteStreaming — the batch rewrite's derived
    // window_start grouping cannot be watermark-tracked); everything
    // else parses through the DIALECT chain, so bracket constructors and
    // the Flink-named functions deploy in streaming INSERTs as in batch
    // Flink's WINDOWED TOP-N streaming statement — ROW_NUMBER() OVER
    // (PARTITION BY ... window_start ...) over a window-TVF aggregate,
    // filtered on the rank. Structured Streaming has no stateful window-
    // function operator, but the shape is per-closed-window work and a
    // closed window's rows ALL emit in one micro-batch — so ranking
    // inside foreachBatch (batch SQL over the micro-batch) IS the
    // global per-window rank. Routed before the generic path.
    val dfOrQuery = try {
      if (isCumulateDeploy(select))
        Right(startCumulate(spark, name, select, connector, path, fmt, trigger,
          checkpointDir,
          sources.flatMap(t => watermarkOf(spark, t).map(_._2)).headOption))
      else if (isWinTopNDeploy(select))
        Right(startWindowTopN(spark, name, select, connector, path, fmt, trigger,
          checkpointDir))
      else if (MatchRecognize.containsClause(select))
        Left(MatchRecognize.sqlStream(spark, select, t => spark.table(t)))
      else if (RowtimeOver.containsClause(select) && !WindowTvf.containsClause(select)) {
        // Flink's streaming row-time OVER statement ([U] flink-table-
        // runtime operators/over/): Spark rejects window functions on a
        // stream outright, so the declared OVER subset lowers onto the
        // keyed streaming/OverOps processes (RowtimeOver.lower) and the
        // result rides the generic sink path below
        if (sources.length != 1)
          fail("streaming OVER deploys over exactly one watermarked source table")
        val src = sources.head
        val orderCol = RowtimeOver.parse(select).orderCol
        // proc-time OVER ([U] flink-table-runtime operators/over/
        // ProcTime{Range,Rows}BoundedPrecedingFunction): ORDER BY a
        // computed PROCTIME() column deploys onto the SAME kernels with
        // the documented micro-batch-time coarsening — every row of one
        // micro-batch carries the batch timestamp (rows within a batch
        // order by the id tiebreak where Flink uses arrival order), and
        // a 0-delay watermark on that column is the emission frontier
        // (a batch's rows emit once a LATER batch advances it)
        val isProcTime = computedColumnsOf(spark, src).exists { case (n, e) =>
          n.equalsIgnoreCase(orderCol) &&
            e.replaceAll("\\s+", "").equalsIgnoreCase("PROCTIME()")
        }
        if (isProcTime) {
          // pass the watermarked frame directly — never replace the
          // user's view (a frozen analyzed plan + a leaked watermark)
          Left(RowtimeOver.lower(spark, select, src, orderCol,
            sourceDf = Some(spark.table(src).withWatermark(orderCol, "0 seconds"))))
        } else {
          val (wmCol, _) = watermarkOf(spark, src).getOrElse(
            fail(s"streaming OVER needs a declared WATERMARK on '$src' " +
              "(its ORDER BY column is the event-time frontier) or an " +
              "ORDER BY on a computed PROCTIME() column (proc-time OVER)"))
          Left(RowtimeOver.lower(spark, select, src, wmCol))
        }
      }
      else {
        // legacy GROUP BY TUMBLE/HOP lowers onto the TVF text first, so a
        // pre-TVF Flink streaming job rides the same native-window path
        val lowered =
          if (LegacyGroupWindow.containsClause(select)) LegacyGroupWindow.rewrite(select)
          else select
        val streamSelect =
          if (WindowTvf.containsClause(lowered)) WindowTvf.rewriteStreaming(lowered)
          else lowered
        val parser = new GraftSqlParser(spark, spark.sessionState.sqlParser)
        Left(org.apache.spark.sql.GraftColumnBridge.ofRows(spark, parser.parsePlan(streamSelect)))
      }
    } finally {
      // restore batch views for subsequent statements; the started
      // query keeps its own resolved streaming plan
      sources.foreach { t =>
        val (_, p, _, _) = registered(spark, t).get
        if (pathExists(spark, p)) rebindView(spark, t)
      }
      // re-bind the view chain back onto the batch sources (best-effort:
      // a source whose path does not exist yet stays stream-bound)
      neededViews.foreach { case (_, createSql, _) =>
        try runDialectSql(spark, createSql) catch { case _: Exception => () }
      }
    }
    val df = dfOrQuery match {
      case Right(q) => return rebindOnTermination(spark, name, q)
      case Left(d) => d
    }
    // Flink's INSERT maps the SELECT onto the sink's declared columns
    // with the SAME contract as the batch path — one shared mapping
    // (mapSelectToSink): positional or column-list-by-name with NULL
    // fill, static PARTITION pins, declared-type casts (an INT
    // expression into a BIGINT sink must write int64 files matching the
    // registered read schema)
    val sinkSchema = registered(spark, name).get._4
    val out = mapSelectToSink(spark, name, sinkSchema, df, statics, listed)
    val ckpt = checkpointDir.getOrElse(
      tempCheckpoint(spark, s"graft_ins_$name"))
    val appendOnly = df.queryExecution.analyzed.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty
    val w = out.writeStream.trigger(trigger).option("checkpointLocation", ckpt)
    rebindOnTermination(spark, name, connector match {
      case "filesystem" =>
        // file sinks are append-only; aggregates need a watermark so
        // closed windows emit as appends (Flink's file-sink constraint).
        // A PARTITIONED BY table writes partition directories, same as
        // the batch path — the 100 TB pruning layout must not depend on
        // which mode wrote the files
        val parts = partitionsOf(spark, name)
        val wp = if (parts.isEmpty) w else w.partitionBy(parts: _*)
        wp.outputMode("append").format(fmt).start(path)
      case "blackhole" =>
        w.outputMode(if (appendOnly) "append" else "update").format("noop").start()
      case "print" =>
        w.outputMode(if (appendOnly) "append" else "update").format("console").start()
      case "kafka" | "upsert-kafka" =>
        // encode to the kafka sink shape, then Spark's kafka stream
        // writer (needs spark-sql-kafka on the classpath — absent here;
        // the encode pipeline is round-trip-tested offline)
        val opts = optionsOf(spark, name)
        val enc = graft.sources.KafkaDdl.encode(out, opts,
          registered(spark, name).get._4, primaryKeyOf(spark, name))
        try enc.writeStream.trigger(trigger).option("checkpointLocation", ckpt)
          .outputMode(if (appendOnly) "append" else "update")
          .format("kafka").options(graft.sources.KafkaDdl.translateSink(opts))
          .start()
        catch {
          case e: Exception => kafkaClasspathFail(e)
          case e: NoClassDefFoundError => kafkaClasspathFail(e)
        }
      case other => fail(s"streaming INSERT INTO a '$other' table is not supported")
    })
  }

  /** After the streaming job terminates, re-derive the SINK's batch view
    * — a sink-role table usually registers over a then-absent path, so
    * without this a script's follow-up `SELECT ... FROM sink` after
    * `awaitTermination` reads the stale empty relation. Fires once (the
    * listener removes itself) and only rebinds when the path now exists;
    * errors are swallowed — a failed rebind must not mask the query's
    * own terminal state.
    */
  private def rebindOnTermination(spark: SparkSession, sinkName: String,
      q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    def rebindSink(): Unit =
      try {
        val path = registered(spark, sinkName).map(_._2).getOrElse("")
        if (path.nonEmpty && pathExists(spark, path)) rebindView(spark, sinkName)
      } catch { case _: Exception => () }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == q.id) {
          try rebindSink() finally spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // the query started before the listener registered: a fast
    // AvailableNow job may already have terminated, with its event
    // delivered (or delivering) to a bus we were not yet on — rebind
    // synchronously and drop the listener (a double rebind is idempotent)
    if (!q.isActive) {
      try rebindSink() finally spark.streams.removeListener(listener)
    }
    q
  }

  /** Deploy a streaming INSERT whose window-TVF span is CUMULATE — the
    * reference's cumulative window ([U] flink-table-runtime
    * operators/aggregate/window slicing operators): expanding
    * step-aligned windows from a shared span start, one final emission
    * per step as the watermark closes it. Structured Streaming has no
    * native cumulate window (and a derived window_start grouping cannot
    * be watermark-tracked), so the deployment runs the raw stream into
    * `foreachBatch` and reproduces Flink's own watermark discipline:
    *
    *  - rows land in a span-partitioned parquet row store under the
    *    checkpoint dir (idempotent: each batch overwrites its own
    *    `batch=N` subtree);
    *  - the watermark is the DDL's bounded-out-of-orderness contract,
    *    `max(rowtime) - delay`, persisted per batch so a replayed batch
    *    recomputes the same `(prevWm, wm]` closing range;
    *  - step ends newly at-or-below the watermark are this batch's
    *    closing cumulate windows: the USER'S original statement re-runs
    *    with the TVF span swapped for a view of the store rows
    *    replicated onto their closing windows — so arbitrary grouping
    *    keys, arbitrary (even non-mergeable) SQL aggregates, and
    *    windowed-Top-N shapes all deploy; emissions are final (append
    *    semantics). Late rows inside the watermark slack fold into the
    *    still-open steps of their span, exactly the
    *    [[graft.streaming.StreamingCumulateProcess]] behavior.
    *
    * Scale: the store holds at most the open spans' rows (fully-emitted
    * span partitions are pruned each batch, and fully-late rows are
    * dropped at write); each span is re-aggregated at most size/step
    * times — the cost of supporting non-mergeable aggregates,
    * distributed as ordinary batch SQL over the store. Delta vs the
    * reference: the watermark is global max-rowtime minus delay (Flink's
    * single-source shape) rather than min-across-partitions.
    */
  private def startCumulate(spark: SparkSession, sinkName: String, select: String,
      connector: String, path: String, fmt: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      checkpointDir: Option[String],
      wmDelay: Option[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.functions._
    val (table, ts, stepS, sizeS, offS, spanStart, spanEnd) =
      WindowTvf.cumulateSpan(select)
    val outerText = select.substring(0, spanStart) + " __graft_cum " +
      select.substring(spanEnd + 1)
    val src = spark.table(table) // the streaming-bound temp view
    val sinkSchema = registered(spark, sinkName).get._4
    val stepUs = stepS * 1000000L
    val sizeUs = sizeS * 1000000L
    val offUs = offS * 1000000L
    val nSteps = (sizeS / stepS).toInt
    val delayUs = wmDelay.map { d =>
      val Array(n, unit) = d.trim.split("\\s+", 2)
      n.toLong * (unit.stripSuffix("s").toLowerCase match {
        case "millisecond" => 1000L
        case "second"      => 1000000L
        case "minute"      => 60000000L
        case "hour"        => 3600000000L
        case "day"         => 86400000000L
        case other => fail(s"unsupported watermark delay unit '$other'")
      })
    }.getOrElse(fail("streaming CUMULATE needs a WATERMARK FOR declaration " +
      "on the source table (the bounded-out-of-orderness contract drives emission)"))
    // dry analysis: shape the view as foreachBatch will and surface
    // unresolved columns / arity mismatches at deploy time
    val viewSchema = StructType(src.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("window_start",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("window_end",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("window_time",
        org.apache.spark.sql.types.TimestampType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], viewSchema)
      .createOrReplaceTempView("__graft_cum")
    val parser0 = new GraftSqlParser(spark, spark.sessionState.sqlParser)
    val dry = org.apache.spark.sql.GraftColumnBridge.ofRows(spark, parser0.parsePlan(outerText))
    if (dry.columns.length != sinkSchema.fields.length)
      fail(s"streaming INSERT selects ${dry.columns.length} columns; " +
        s"sink $sinkName declares ${sinkSchema.fields.length}")
    val ckpt = checkpointDir.getOrElse(
      tempCheckpoint(spark, s"graft_cum_$sinkName"))
    val store = s"$ckpt/graft_cum_store"
    val wmDir = java.nio.file.Paths.get(s"$ckpt/graft_cum_wm")
    // integer floor-div (see WindowTvf.buildSubquery): exact for large
    // epochs, correct for pre-epoch rowtimes
    def floordivCol(num: org.apache.spark.sql.Column, den: Long) =
      (num / den).cast("long").minus(when(num % den < 0, 1L).otherwise(0L))
    src.writeStream.trigger(trigger).option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s2 = batch.sparkSession
          // 1. tag raw rows with their span start (epoch micros); rows
          //    with a NULL rowtime carry no event time — dropped, like
          //    the reference's null-rowtime rule
          val rows = batch
            .withColumn("__graft_ts", unix_micros(col(s"`$ts`").cast("timestamp")))
            .where(col("__graft_ts").isNotNull)
            .withColumn("__graft_span",
              floordivCol(col("__graft_ts") - offUs, sizeUs) * sizeUs + offUs)
          // 3. the watermark: max rowtime seen minus the DDL delay,
          //    persisted per batch so a replay recomputes the same range
          val wmRow = rows.agg(max(col("__graft_ts"))).head()
          if (!wmRow.isNullAt(0)) {
          val wmBatch = wmRow.getLong(0) - delayUs
          java.nio.file.Files.createDirectories(wmDir)
          val prevWm = {
            val listing = java.nio.file.Files.list(wmDir)
            val paths = try listing.toArray.toSeq.map(_.toString)
              finally listing.close() // one leaked fd per micro-batch otherwise
            val prior = paths.flatMap { p =>
              val n = p.substring(p.lastIndexOf('=') + 1).toLong
              if (n < batchId)
                Some(java.nio.file.Files.readString(java.nio.file.Paths.get(p)).trim.toLong)
              else None
            }
            if (prior.isEmpty) Long.MinValue else prior.max
          }
          val wm = math.max(prevWm, wmBatch)
          java.nio.file.Files.writeString(wmDir.resolve(s"batch=$batchId"), wm.toString)
          // 2. idempotent store append (a replayed batch overwrites its
          //    own subtree); rows whose whole span already emitted are
          //    fully late — dropped, like the reference's late-data rule
          rows.where(col("__graft_span") + sizeUs > prevWm)
            .write.mode("overwrite")
            .partitionBy("__graft_span").parquet(s"$store/batch=$batchId")
          if (wm > prevWm) {
            // 4. closing cumulate windows: step ends in (prevWm, wm] for
            //    every span still open in the store
            val stored = s2.read.parquet(store)
              .where(col("__graft_span") + sizeUs > prevWm)
            val closing = stored.select(col("__graft_span")).distinct()
              .select(col("__graft_span").as("__graft_cspan"),
                explode(sequence(lit(1), lit(nSteps))).as("__graft_k"))
              .select(col("__graft_cspan"),
                (col("__graft_cspan") + col("__graft_k") * stepUs).as("__graft_we"))
              .where(col("__graft_we") > prevWm && col("__graft_we") <= wm)
            // 5. replicate rows onto their closing windows and run the
            //    user's statement over the view (final, append emissions)
            val assigned = stored.join(broadcast(closing),
                stored("__graft_span") === closing("__graft_cspan") &&
                  stored("__graft_ts") < closing("__graft_we"))
              .withColumn("window_start", timestamp_micros(col("__graft_cspan")))
              .withColumn("window_end", timestamp_micros(col("__graft_we")))
              .withColumn("window_time", timestamp_micros(col("__graft_we") - 1000L))
              .drop("__graft_span", "__graft_cspan", "__graft_we", "__graft_ts", "batch")
            assigned.createOrReplaceTempView("__graft_cum")
            val p2 = new GraftSqlParser(s2, s2.sessionState.sqlParser)
            val res = org.apache.spark.sql.GraftColumnBridge.ofRows(s2, p2.parsePlan(outerText))
              .toDF(sinkSchema.fieldNames.toIndexedSeq: _*)
              .select(sinkSchema.fields.toIndexedSeq
                .map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
            connector match {
              case "filesystem" =>
                // idempotent per-batch append: stage with overwrite, then
                // move in under deterministic batch-tagged names, deleting
                // this batch's own files first — a plain mode("append")
                // would duplicate emissions when a batch replays after a
                // crash between the sink write and the checkpoint commit
                val stage = s"$ckpt/graft_cum_stage"
                res.write.mode("overwrite").format(fmt).save(stage)
                val fs = new org.apache.hadoop.fs.Path(path)
                  .getFileSystem(s2.sparkContext.hadoopConfiguration)
                val dst = new org.apache.hadoop.fs.Path(path)
                fs.mkdirs(dst)
                fs.globStatus(new org.apache.hadoop.fs.Path(s"$path/graft-batch$batchId-*"))
                  .foreach(st => fs.delete(st.getPath, false))
                fs.globStatus(new org.apache.hadoop.fs.Path(s"$stage/part-*"))
                  .sortBy(_.getPath.getName).zipWithIndex
                  .foreach { case (st, i) =>
                    val n = st.getPath.getName
                    val ext = if (n.contains('.')) n.substring(n.indexOf('.')) else ""
                    val to = new org.apache.hadoop.fs.Path(dst, s"graft-batch$batchId-$i$ext")
                    // stage lives under the checkpoint dir, which may be a
                    // different filesystem than the sink — rename() returns
                    // false across filesystems on some implementations and
                    // THROWS "Wrong FS" (IllegalArgumentException from
                    // checkPath) on others; both must reach the copy
                    // fallback — losing the batch silently would break
                    // exactly-once
                    val renamed =
                      try fs.rename(st.getPath, to)
                      catch { case _: IllegalArgumentException => false }
                    if (!renamed) {
                      val srcFs = st.getPath.getFileSystem(s2.sparkContext.hadoopConfiguration)
                      val ok = org.apache.hadoop.fs.FileUtil.copy(
                        srcFs, st.getPath, fs, to, true, true,
                        s2.sparkContext.hadoopConfiguration)
                      if (!ok) throw new java.io.IOException(
                        s"could not move staged ${st.getPath} to $to")
                    }
                  }
              case "blackhole"  => res.write.mode("append").format("noop").save()
              case "print"      => res.show(false)
              case other => fail(s"streaming INSERT INTO a '$other' table is not supported")
            }
            // 6. prune spans fully emitted BEFORE this batch (safe under
            //    replay: this batch's range starts above prevWm)
            try {
              val fs = new org.apache.hadoop.fs.Path(store)
                .getFileSystem(s2.sparkContext.hadoopConfiguration)
              fs.globStatus(new org.apache.hadoop.fs.Path(s"$store/batch=*/__graft_span=*"))
                .foreach { st =>
                  val sp = st.getPath.getName.substring("__graft_span=".length).toLong
                  if (sp + sizeUs <= prevWm) fs.delete(st.getPath, true)
                }
            } catch { case _: Exception => () }
          }
          }
        }
        ()
      }
      .start()
  }

  /** Deploy a windowed Top-N streaming INSERT: the inner window-TVF
    * aggregate streams on the native-window rewrite (closed windows
    * append), and the OUTER statement text (rank + filter + projection)
    * runs per micro-batch over a temp view of the batch — correct
    * because a closed window's rows all arrive in one micro-batch.
    * Requires the TVF span to sit inside a parenthesized `(SELECT ...
    * GROUP BY ...)` subquery, the Flink windowed-Top-N statement shape.
    */
  private def startWindowTopN(spark: SparkSession, sinkName: String, select: String,
      connector: String, path: String, fmt: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      checkpointDir: Option[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.{Dataset, Row}
    val (spanStart, spanEnd) = WindowTvf.firstSpan(select)
    // innermost '(' enclosing the whole span whose body is a SELECT
    val opens = (0 until spanStart).filter { i =>
      select.charAt(i) == '(' &&
        (try WindowTvf.matchParen(select, i) > spanEnd catch { case _: Exception => false })
    }
    val aggOpen = opens.filter { i =>
      val body = select.substring(i + 1).dropWhile(_.isWhitespace)
      body.toUpperCase.startsWith("SELECT")
    }.sortBy(-_).headOption.getOrElse(
      fail("windowed Top-N: the window TVF must sit in a (SELECT ... GROUP BY ...) subquery"))
    val aggClose = WindowTvf.matchParen(select, aggOpen)
    val innerText = select.substring(aggOpen + 1, aggClose)
    if (raw"(?is)\bGROUP\s+BY\b".r.findFirstIn(innerText).isEmpty)
      fail("windowed Top-N: the inner subquery must be a window aggregate (GROUP BY)")
    val outerText = select.substring(0, aggOpen) + " __graft_winagg " +
      select.substring(aggClose + 1)
    val parser = new GraftSqlParser(spark, spark.sessionState.sqlParser)
    val innerDf = org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      parser.parsePlan(WindowTvf.rewriteStreaming(innerText)))
    val sinkSchema = registered(spark, sinkName).get._4
    // dry analysis over an empty frame: surface unresolved columns and
    // the positional-arity mismatch at deploy time, not mid-stream
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], innerDf.schema)
      .createOrReplaceTempView("__graft_winagg")
    val dry = org.apache.spark.sql.GraftColumnBridge.ofRows(spark, parser.parsePlan(outerText))
    if (dry.columns.length != sinkSchema.fields.length)
      fail(s"streaming INSERT selects ${dry.columns.length} columns; " +
        s"sink $sinkName declares ${sinkSchema.fields.length}")
    val ckpt = checkpointDir.getOrElse(
      tempCheckpoint(spark, s"graft_ins_$sinkName"))
    innerDf.writeStream.trigger(trigger).option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s2 = batch.sparkSession
        batch.createOrReplaceTempView("__graft_winagg")
        val p2 = new GraftSqlParser(s2, s2.sessionState.sqlParser)
        val res = org.apache.spark.sql.GraftColumnBridge.ofRows(s2, p2.parsePlan(outerText))
          .toDF(sinkSchema.fieldNames.toIndexedSeq: _*)
          .select(sinkSchema.fields.toIndexedSeq
            .map(f => org.apache.spark.sql.functions.col(s"`${f.name}`")
              .cast(f.dataType).as(f.name)): _*)
        connector match {
          case "filesystem" => res.write.mode("append").format(fmt).save(path)
          case "blackhole"  => res.write.mode("append").format("noop").save()
          case "print"      => res.show(false)
          case other        => fail(s"streaming INSERT INTO a '$other' table is not supported")
        }
        ()
      }
      .start()
  }

  private val cdcDecoders: Map[String, (org.apache.spark.sql.DataFrame, String, String) => DataFrame] = Map(
    "debezium-json" -> graft.operators.Changelog.fromDebeziumJson,
    "canal-json" -> graft.operators.Changelog.fromCanalJson,
    "maxwell-json" -> graft.operators.Changelog.fromMaxwellJson,
    "ogg-json" -> graft.operators.Changelog.fromOggJson)

  /** CDC-format filesystem table: JSON-lines decoded to a `row_kind`
    * changelog with the DECLARED payload schema. With a PRIMARY KEY the
    * view materializes to current state (Flink's batch SELECT over a
    * CDC table), sequenced by file order — per-partition monotonic ids,
    * the order CDC files are written in; without one, the raw changelog
    * (payload + row_kind) is the view.
    */
  private def readCdc(spark: SparkSession, fmt: String,
      physical: Seq[(String, String)], path: String, pk: Seq[String]): DataFrame = {
    val payloadDdl = physical.map { case (n, t) => s"$n $t" }.mkString(", ")
    val raw = spark.read.text(path).withColumnRenamed("value", "__json")
    val changelog = cdcDecoders(fmt)(raw, "__json", payloadDdl)
    if (pk.isEmpty) changelog
    else graft.operators.Changelog.materialize(
      changelog.withColumn("__seq", org.apache.spark.sql.functions.monotonically_increasing_id()),
      pk, "__seq").drop("__seq", "row_kind") // current state = declared columns only
  }

  /** Checkpoint directory of a streaming INSERT deployed without one. It
    * is fresh per query, so no later query can resume from it; it is
    * deleted when the JVM exits instead of piling up in the temp dir.
    */
  private def tempCheckpoint(spark: SparkSession, prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .deleteOnExit(new org.apache.hadoop.fs.Path(dir))
    dir
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Build the connector-backed DataFrame for a table's options — the
    * shared read path of CREATE TABLE registration and the dynamic
    * table-options hint ([[applyOptionsHints]]).
    */
  /** Flink's filesystem metadata keys ([U] flink-connector-files
    * FileSystemTableSource readable metadata) → Spark's hidden
    * `_metadata` file-scan struct. All read-only upstream too.
    */
  private val fsMetadataKeys: Map[String, String] = Map(
    "file.path" -> "file_path", "file.name" -> "file_name",
    "file.size" -> "file_size", "file.modification-time" -> "file_modification_time")

  /** CREATE-time validation of the declared METADATA columns against
    * the connector's readable keys, so a bad key fails at DDL time the
    * way Flink's own validation does.
    */
  private def validateMetadata(connector: String, opts: Map[String, String],
      metaCols: Seq[MetadataCol]): Unit = {
    if (metaCols.isEmpty) return
    connector match {
      case "filesystem" =>
        metaCols.find(m => !fsMetadataKeys.contains(m.key)).foreach(m =>
          fail(s"unknown filesystem metadata key '${m.key}' for column " +
            s"`${m.name}` (readable: ${fsMetadataKeys.keys.toSeq.sorted.mkString(", ")})"))
        val fmt = opts.getOrElse("format", "")
        if (cdcDecoders.contains(fmt))
          fail(s"METADATA columns are not supported over the '$fmt' value " +
            "format (CDC decoders explode one message into several rows)")
      case "kafka" | "upsert-kafka" =>
        metaCols.foreach(m => graft.sources.KafkaDdl.metadataExpr(m.key))
      case other =>
        fail(s"connector '$other' exposes no metadata keys " +
          s"(METADATA column `${metaCols.head.name}`)")
    }
  }

  /** Append the filesystem METADATA columns from Spark's `_metadata`
    * file-scan struct (available on every file-source relation, batch
    * and streaming).
    */
  private def attachFsMeta(df: DataFrame, metaCols: Seq[MetadataCol]): DataFrame =
    metaCols.foldLeft(df)((d, m) =>
      d.withColumn(m.name, col(s"_metadata.${fsMetadataKeys(m.key)}").cast(m.typeDdl)))

  /** METADATA columns as typed NULLs — the shape for empty relations
    * (missing sink-role paths) where no scan serves `_metadata`.
    */
  private def nullMeta(df: DataFrame, metaCols: Seq[MetadataCol]): DataFrame =
    metaCols.foldLeft(df)((d, m) =>
      d.withColumn(m.name, lit(null).cast(m.typeDdl)))

  /** Re-derive a registered table's FULL reading view from the
    * registries — connector read + METADATA columns + computed columns.
    * The single rebind path for every site that must refresh the view
    * (post-INSERT, row-level rewrite, TRUNCATE, stream→batch restore);
    * re-deriving from the physical schema alone would silently drop the
    * computed/metadata columns from the view.
    */
  private def rebindView(spark: SparkSession, name: String): Unit = {
    val (_, _, _, schema) = registered(spark, name).getOrElse(
      fail(s"cannot rebind unregistered table $name"))
    val physical = schema.fields.toSeq.map(f => f.name -> f.dataType.sql)
    val base = connectorRead(spark, schema, physical, primaryKeyOf(spark, name),
      optionsOf(spark, name), metadataColumnsOf(spark, name))
    val computed = computedColumnsOf(spark, name)
    val df = if (computed.isEmpty) base
      else base.selectExpr("*" +: computed.map { case (n, e) => s"($e) AS $n" }: _*)
    df.createOrReplaceTempView(name)
  }

  private def connectorRead(spark: SparkSession, schema: StructType,
      physical: Seq[(String, String)], primaryKey: Seq[String],
      opts: Map[String, String], metaCols: Seq[MetadataCol]): DataFrame =
    opts.getOrElse("connector", fail("'connector' option is required")) match {
      case "filesystem" =>
        val path = opts.getOrElse("path", fail("filesystem connector requires 'path'"))
        val fmt = opts.getOrElse("format", fail("filesystem connector requires 'format'"))
        // a sink-role table's path may not exist yet (Flink's filesystem
        // table is source and sink in one) — start empty; INSERT INTO
        // re-registers the view over the written data
        if (!pathExists(spark, path)) nullMeta(empty(spark, schema), metaCols)
        else if (cdcDecoders.contains(fmt)) readCdc(spark, fmt, physical, path, primaryKey)
        else attachFsMeta(readFs(spark, fmt, schema, path, opts), metaCols)
      case "datagen" =>
        datagen(spark, schema, opts)
      case "print" | "blackhole" =>
        // sink-only connectors: register an empty relation so the name
        // resolves; INSERT INTO routing is the caller's concern
        empty(spark, schema)
      case "kafka" | "upsert-kafka" =>
        // PLAN-level mapping (graft.sources.KafkaDdl): translate the
        // options and dry-analyze the decode pipeline over an empty
        // Kafka-shaped frame NOW, so option/format mistakes surface at
        // CREATE TABLE time; the batch name resolves to the decoded
        // (empty) relation. The runtime scan needs spark-sql-kafka on
        // the classpath (absent in this zero-egress build — documented
        // untested); see FlinkDdl.readStream.
        graft.sources.KafkaDdl.translate(opts)
        graft.sources.KafkaDdl.decode(
          empty(spark, kafkaScanSchema(metaCols)), opts, schema, primaryKey,
          metaCols.map(m => (m.name, m.typeDdl, m.key)))
      case other => fail(s"unsupported connector '$other' " +
        "(supported: filesystem, kafka, upsert-kafka, datagen, print, blackhole)")
    }

  /** The Kafka scan shape for a table's declared metadata — `headers`
    * only arrives when asked for (`includeHeaders = true`).
    */
  private def kafkaScanSchema(metaCols: Seq[MetadataCol]): StructType =
    if (metaCols.exists(_.key == "headers"))
      graft.sources.KafkaDdl.scanSchemaWithHeaders
    else graft.sources.KafkaDdl.scanSchema

  private val tableHintRe =
    raw"(?is)\b([A-Za-z_]\w*)\s*/\*\+\s*OPTIONS\s*\(([^)]*)\)\s*\*/(?:\s+AS\s+([A-Za-z_]\w*))?".r

  /** Flink's DYNAMIC TABLE OPTIONS ([U] flink-table-planner
    * `DynamicTableSourceHintOptions` / docs "dynamic table options"):
    * `SELECT ... FROM t /*+ OPTIONS('k'='v') */` re-reads a
    * DDL-registered table with the hinted options merged over its WITH
    * clause — a per-query connector override (row cap on a datagen
    * source, alternate CSV delimiter) without re-declaring the table.
    * The hinted read registers as a derived temp view (name keyed by
    * table + merged options, so repeats reuse it) and the reference is
    * substituted; hints on names the DDL registry does not know keep
    * the old accepted-and-dropped behavior, so Spark-native tables and
    * views tolerate a migrating script's hints.
    */
  def applyOptionsHints(spark: SparkSession, sqlText: String): String = {
    val out = tableHintRe.replaceAllIn(sqlText, m => {
      val name = m.group(1)
      val alias = Option(m.group(3)).getOrElse(name)
      registered(spark, name) match {
        case Some((_, _, _, schema)) =>
          val hintOpts = optRe.findAllMatchIn(m.group(2))
            .map(o => o.group(1).toLowerCase -> o.group(2)).toMap
          if (hintOpts.isEmpty) s"$name AS $alias"
          else {
            val merged = optionsOf(spark, name) ++ hintOpts
            val key = merged.toSeq.sorted.mkString(";")
            val view = s"${name}__opts_${Integer.toHexString(key.hashCode)}"
            if (!spark.catalog.tableExists(view)) {
              val physical = schema.fields.toSeq.map(f => f.name -> f.dataType.sql)
              val base = connectorRead(spark, schema, physical,
                primaryKeyOf(spark, name), merged, metadataColumnsOf(spark, name))
              val computed = computedColumnsOf(spark, name)
              val df = if (computed.isEmpty) base
                else base.selectExpr(
                  "*" +: computed.map { case (n, e) => s"($e) AS $n" }: _*)
              df.createOrReplaceTempView(view)
            }
            // keep the user's alias resolution intact: the substituted
            // view is referenced AS the original name (or explicit alias)
            s"$view AS $alias"
          }
        case None =>
          // unknown table: drop the hint (old behavior), keep any alias
          if (m.group(3) != null) s"$name AS $alias" else name
      }
    })
    stripOptionsHints(out)
  }

  private def readFs(spark: SparkSession, fmt: String, schema: StructType,
      path: String, opts: Map[String, String]): DataFrame = fmt match {
    case "parquet" | "orc" => spark.read.format(fmt).schema(schema).load(path)
    case "json" => spark.read.schema(schema).json(path)
    case "csv" => spark.read.schema(schema)
      .option("header", opts.getOrElse("csv.include-header", "false"))
      .option("sep", opts.getOrElse("csv.field-delimiter", ","))
      .csv(path)
    case other => fail(s"unsupported filesystem format '$other'")
  }

  /** Streaming read of a DDL-registered filesystem table, applying the
    * recorded WATERMARK clause via `withWatermark` (Spark's equivalent
    * of Flink's table-attached watermark; no-op if none was declared).
    */
  def readStream(spark: SparkSession, table: String): DataFrame = {
    val (connector, path, fmt, schema) = registered(spark, table)
      .getOrElse(fail(s"unknown table $table"))
    if (connector == "kafka" || connector == "upsert-kafka") {
      // deployment shape for the kafka mapping — translate + scan +
      // decode. UNTESTED at runtime in this build: the zero-egress image
      // carries no spark-sql-kafka jar and no broker; with the package
      // on the classpath this is the standard Spark Kafka source.
      val opts = optionsOf(spark, table)
      val metaCols = metadataColumnsOf(spark, table)
      val scanOpts = graft.sources.KafkaDdl.translate(opts) ++
        (if (metaCols.exists(_.key == "headers")) Map("includeHeaders" -> "true")
         else Map.empty)
      val raw = try
        spark.readStream.format("kafka").options(scanOpts).load()
      catch {
        case e: Exception => kafkaClasspathFail(e)
        case e: NoClassDefFoundError => kafkaClasspathFail(e)
      }
      val df = graft.sources.KafkaDdl.decode(raw, opts, schema,
        primaryKeyOf(spark, table), metaCols.map(m => (m.name, m.typeDdl, m.key)))
      val computedK = computedColumnsOf(spark, table)
      val fullK = if (computedK.isEmpty) df
        else df.selectExpr("*" +: computedK.map { case (n, e) => s"($e) AS $n" }: _*)
      return watermarkOf(spark, table) match {
        case Some((c, delay)) => fullK.withWatermark(c, delay)
        case None => fullK
      }
    }
    if (connector == "datagen") {
      // Flink's unbounded datagen source ([U] flink-connector-datagen):
      // Spark's rate source drives the row sequence at 'rows-per-second'
      // (Flink's default 10000), and the declared columns shape from it
      // with the same per-field generator options as the batch path. A
      // sequence column with an explicit 'end' makes the Flink source
      // FINITE — Spark's rate source cannot terminate, so that shape is
      // a clear error pointing at bounded mode.
      val opts = optionsOf(spark, table).map { case (k, v) => k.toLowerCase -> v }
      validateDatagenFields(schema, opts)
      if (opts.contains("number-of-rows"))
        fail("streaming datagen: 'number-of-rows' declares a finite source " +
          "— run it as a bounded batch read instead")
      val seqSpans = datagenSeqSpans(schema, opts)
      seqSpans.collectFirst { case (n, (_, Some(_))) => n }.foreach { n =>
        fail(s"streaming datagen: sequence column '$n' declares an end " +
          "(a finite source) — run it as a bounded batch read instead")
      }
      val rps = numOpt(opts.getOrElse("rows-per-second", "10000"), "rows-per-second")
      val rate = spark.readStream.format("rate").option("rowsPerSecond", rps)
        .load().select(col("value").as("id"))
      val df = datagenShape(rate, schema, opts, seqSpans)
      val computedG = computedColumnsOf(spark, table)
      val fullG = if (computedG.isEmpty) df
        else df.selectExpr("*" +: computedG.map { case (n, e) => s"($e) AS $n" }: _*)
      return watermarkOf(spark, table) match {
        case Some((c, delay)) => fullG.withWatermark(c, delay)
        case None => fullG
      }
    }
    if (connector != "filesystem") fail(s"readStream supports filesystem tables, not '$connector'")
    val df =
      if (cdcDecoders.contains(fmt)) {
        // CDC formats stream as an unbounded row_kind changelog — the
        // reference's debezium/canal/maxwell/ogg source shape; keyed
        // materialization is the consumer's choice (GroupAgg /
        // KeepLastDedup keep the same row_kind convention)
        val raw = spark.readStream.text(path).withColumnRenamed("value", "__json")
        cdcDecoders(fmt)(raw, "__json", schema.toDDL)
      } else attachFsMeta(spark.readStream.schema(schema).format(fmt).load(path),
        metadataColumnsOf(spark, table))
    // computed columns attach BEFORE the watermark: a Flink rowtime is
    // routinely a computed column (TO_TIMESTAMP over a string field),
    // and the watermark clause may name it
    val computed = computedColumnsOf(spark, table)
    val full = if (computed.isEmpty) df
      else df.selectExpr("*" +: computed.map { case (n, e) => s"($e) AS $n" }: _*)
    watermarkOf(spark, table) match {
      case Some((c, delay)) => full.withWatermark(c, delay)
      case None => full
    }
  }

  /** Flink type name → Spark DDL type (recursive constructors handled
    * textually: ROW< → STRUCT<; precision-carrying timestamps collapse
    * to Spark's microsecond timestamp; per SURVEY §1.2, `TIME(p)` has no
    * Spark analog and maps to INT millis-of-day, and `MULTISET<T>` maps
    * to `MAP<T, INT>` — element → multiplicity, Flink's own internal
    * representation of a multiset).
    */
  private[plans] def sparkType(t: String): String = {
    var s = rewriteMultiset(t)
    s = raw"(?i)\bTIMESTAMP_LTZ\s*(\(\d\))?".r.replaceAllIn(s, "TIMESTAMP")
    s = raw"(?i)\bTIMESTAMP\s*\(\d\)".r.replaceAllIn(s, "TIMESTAMP")
    s = raw"(?i)\bTIME\s*(\(\d\))?(?!\w)".r.replaceAllIn(s, "INT")
    s = raw"(?i)\bVARCHAR\s*\(\d+\)|\bCHAR\s*\(\d+\)".r.replaceAllIn(s, "STRING")
    s = raw"(?i)\bVARBINARY\s*\(\d+\)|\bBYTES\b".r.replaceAllIn(s, "BINARY")
    s = raw"(?i)\bROW\s*<".r.replaceAllIn(s, "STRUCT<")
    s
  }

  /** `MULTISET<T>` → `MAP<T, INT>`, depth-counted so nested generics
    * (`MULTISET<ROW<a INT>>`, `MULTISET<MULTISET<STRING>>`) survive.
    */
  private def rewriteMultiset(t: String): String =
    raw"(?i)\bMULTISET\s*<".r.findFirstMatchIn(t) match {
      case None => t
      case Some(m) =>
        val open = m.end - 1
        var depth = 1
        var k = open + 1
        while (k < t.length && depth > 0) {
          t.charAt(k) match {
            case '<' => depth += 1
            case '>' => depth -= 1
            case _ =>
          }
          k += 1
        }
        if (depth != 0) fail(s"unbalanced MULTISET<...> in type '$t'")
        val inner = rewriteMultiset(t.substring(open + 1, k - 1))
        t.substring(0, m.start) + s"MAP<$inner, INT>" + rewriteMultiset(t.substring(k))
    }

  /** Bounded rows shaped to the declared schema — per-column values are
    * hash-derived from the row sequence (deterministic, no RNG), the
    * same posture as [[graft.sources.DataGen]].
    */
  /** Per-field generator spans for `kind = 'sequence'` columns
    * ([U] flink-connector-datagen DataGenConnectorOptions):
    * name → (start, explicit end if declared). Other kinds reject.
    */
  private def datagenSeqSpans(schema: StructType,
      opts: Map[String, String]): Map[String, (Long, Option[Long])] =
    schema.fields.toSeq.flatMap { f =>
      def fOpt(k: String) = opts.get(s"fields.${f.name.toLowerCase}.$k")
      fOpt("kind") match {
        case Some("sequence") =>
          val start = fOpt("start").map(numOpt(_, s"fields.${f.name}.start")).getOrElse(0L)
          val end = fOpt("end").map(numOpt(_, s"fields.${f.name}.end"))
          if (end.exists(_ < start)) fail(s"datagen sequence for ${f.name}: end < start")
          Some(f.name -> (start, end))
        case Some("random") | None => None
        case Some(other) => fail(s"datagen kind '$other' for column ${f.name} " +
          "(supported: random, sequence)")
      }
    }.toMap

  /** Every `fields.<col>.*` option must name a declared column — Flink
    * rejects unsupported options, and the permissive alternative masks
    * column-name typos as silently-random data.
    */
  // numeric option parses fail with the option name, not a bare
  // NumberFormatException surfacing from deep inside the planner
  private def numOpt(v: String, what: String): Long =
    try v.trim.toLong catch { case _: NumberFormatException =>
      fail(s"$what must be a number, got `$v`") }
  private def dblOpt(v: String, what: String): Double =
    try v.trim.toDouble catch { case _: NumberFormatException =>
      fail(s"$what must be a number, got `$v`") }

  private def validateDatagenFields(schema: StructType,
      opts: Map[String, String]): Unit = {
    // the DDL parser lowercases option keys; field names keep their
    // declared case — compare case-insensitively on both sides
    val names = schema.fieldNames.map(_.toLowerCase).toSet
    opts.keys.filter(_.startsWith("fields.")).foreach { k =>
      val c = k.stripPrefix("fields.").takeWhile(_ != '.')
      if (!names.contains(c.toLowerCase))
        fail(s"datagen option '$k' names unknown column '$c'")
    }
  }

  private def datagen(spark: SparkSession, schema: StructType,
      opts: Map[String, String]): DataFrame = {
    // Flink's per-field generator options: kind = random (default) |
    // sequence; sequence fields run start..end and EXHAUST the source —
    // an explicitly declared extent is never truncated by the implicit
    // 1000-row default, only by a declared number-of-rows; random
    // numerics honor min/max, random strings honor length.
    // normalize option-key case once so the fields.* lookups cannot
    // depend on which parse site built the map
    val o = opts.map { case (k, v) => k.toLowerCase -> v }
    validateDatagenFields(schema, o)
    val seqSpans = datagenSeqSpans(schema, o)
    val nOpt = o.get("number-of-rows").map(numOpt(_, "number-of-rows"))
    val extents = seqSpans.values.toSeq.collect { case (s, Some(e)) =>
      val span = e - s + 1
      if (span <= 0) fail(s"datagen sequence span $s..$e overflows")
      span
    }
    val rows = (nOpt.toSeq ++ extents) match {
      case Seq() => 1000L
      case xs => xs.min
    }
    datagenShape(spark.range(rows).toDF(), schema, o, seqSpans)
  }

  /** Shape the declared columns from a row-sequence column `id` — shared
    * by the bounded range source and the streaming rate source.
    */
  private def datagenShape(base: DataFrame, schema: StructType,
      opts: Map[String, String],
      seqSpans: Map[String, (Long, Option[Long])]): DataFrame = {
    import org.apache.spark.sql.types._
    def fOpt(f: StructField, k: String): Option[String] =
      opts.get(s"fields.${f.name.toLowerCase}.$k")
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val h = xxhash64(col("id"), lit(i))
      val c = seqSpans.get(f.name) match {
        case Some((start, _)) => (col("id") + start).cast(f.dataType)
        case None => f.dataType match {
          case LongType | IntegerType | ShortType =>
            val lo = fOpt(f, "min").map(numOpt(_, s"fields.${f.name}.min")).getOrElse(0L)
            val hi = fOpt(f, "max").map(numOpt(_, s"fields.${f.name}.max")).getOrElse(999999L)
            if (hi < lo) fail(s"datagen for ${f.name}: max < min")
            val span = hi - lo + 1
            if (span <= 0) fail(s"datagen for ${f.name}: range $lo..$hi overflows")
            (lit(lo) + pmod(h, lit(span))).cast(f.dataType)
          case DoubleType | FloatType | _: DecimalType =>
            val lo = fOpt(f, "min").map(dblOpt(_, s"fields.${f.name}.min")).getOrElse(0.0)
            val hi = fOpt(f, "max").map(dblOpt(_, s"fields.${f.name}.max")).getOrElse(1000.0)
            if (hi < lo) fail(s"datagen for ${f.name}: max < min")
            (lit(lo) + pmod(h, lit(100000L)).cast("double") / 100000.0 * (hi - lo))
              .cast(f.dataType)
          case StringType => fOpt(f, "length") match {
            case None => concat(lit("v"), pmod(h, lit(1000L)))
            case Some(l) =>
              val lenL = numOpt(l, s"fields.${f.name}.length")
              // bounds-check BEFORE .toInt — a Long wrap would silently
              // generate tiny (or negative-length) strings
              if (lenL <= 0 || lenL > 1000000)
                fail(s"fields.${f.name}.length must be in 1..1000000, got $lenL")
              val len = lenL.toInt
              // deterministic hex of EXACTLY `len` chars — hex(bigint)
              // drops leading zeros, so pad to the full 16 digits before
              // repeating or short hashes undershoot the length
              substring(repeat(lpad(lower(hex(h)), 16, "0"), len / 16 + 1), 1, len)
          }
          case BooleanType => pmod(h, lit(2L)) === 0
          case TimestampType => timestamp_seconds(lit(1700000000L) + pmod(h, lit(86400L)))
          case DateType => date_add(lit(java.sql.Date.valueOf("2024-01-01")),
            pmod(h, lit(365L)).cast("int"))
          case other => fail(s"datagen cannot shape type $other for column ${f.name}")
        }
      }
      c.as(f.name)
    }
    base.select(cols.toIndexedSeq: _*)
  }
}
