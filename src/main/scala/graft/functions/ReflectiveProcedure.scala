package graft.functions

import java.lang.reflect.{InvocationHandler, Method, Modifier, Proxy}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** FLIP-311 stored procedures, bridged reflectively — the fourth-plus
  * kind of user code after the scalar/table/aggregate/table-aggregate
  * function bridges ([U] flink-table-common
  * `procedures/Procedure.java`: a class with public
  * `T[] call(ProcedureContext ctx, args...)` methods, provided by a
  * CATALOG in Flink). No catalog here ships procedures, so
  * registration is the porting seam: `CREATE PROCEDURE name AS
  * 'class.Name'` (a documented graft extension standing in for catalog
  * provisioning — Flink itself has no CREATE PROCEDURE DDL) or the
  * [[register]] API, then Flink's own `CALL name(args...)` /
  * `SHOW PROCEDURES` statements run unchanged.
  *
  * Duck-typed like the function bridges: the class needs a no-arg
  * constructor and at least one public `call` method whose FIRST
  * parameter is the context slot. The context argument passed is
  * `null` for an `Object`/class-typed slot and a dynamic proxy for an
  * interface-typed slot (a ProcedureContext interface from the user's
  * jar loads fine; any method invoked on it fails typed — the
  * reference's StreamExecutionEnvironment has no analog here, and
  * procedures that only orchestrate table state never touch it).
  * Arguments are evaluated by Spark SQL (`SELECT <args>`), so literals,
  * casts, and scalar functions all work, then coerce to the chosen
  * overload's parameter types with the same Java-widening rules as the
  * eval bridges. Same-arity overloads rank by argument-type
  * compatibility. Named arguments (`pname => expr`, Flink's FLIP-387
  * convention — [U] flink-table-common annotation/ArgumentHint) map
  * onto parameter order via the reflected parameter names (record them
  * with `javac -parameters`); all-positional or all-named, no mixing.
  * The returned array/iterable becomes a one-column `result` DataFrame
  * (a homogeneous scalar array keeps its type; mixed element types
  * render per-element via String.valueOf — Flink also renders procedure
  * output as rows).
  */
object ReflectiveProcedure {

  private val bySession =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[String, String]]()

  private def registry(spark: SparkSession) = bySession.synchronized {
    var m = bySession.get(spark)
    if (m == null) { m = new java.util.HashMap[String, String](); bySession.put(spark, m) }
    m
  }

  private def callMethods(cls: Class[_]): Array[Method] =
    cls.getMethods.filter(m => m.getName == "call" &&
      Modifier.isPublic(m.getModifiers) && m.getParameterCount >= 1)

  /** Register `name` if `className` loads and has a public call method
    * with a leading context parameter; false if the shape is absent
    * (the caller surfaces its own guidance).
    */
  def register(spark: SparkSession, name: String, className: String): Boolean = {
    val cls =
      try org.apache.spark.sql.GraftColumnBridge.loadTaskClass(className)
      catch { case _: ClassNotFoundException => return false }
    if (callMethods(cls).isEmpty) return false
    registry(spark).put(name.toLowerCase, className)
    true
  }

  def unregister(spark: SparkSession, name: String): Unit =
    registry(spark).remove(name.toLowerCase)

  def isRegistered(spark: SparkSession, name: String): Boolean =
    registry(spark).containsKey(name.toLowerCase)

  def registered(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    registry(spark).keySet().asScala.toSeq.sorted
  }

  /** Split a CALL argument list on top-level commas — the shared
    * quote-aware splitter (single/double quotes, backslash and doubled
    * quote escapes), ONE implementation with the named-args rewrite so
    * the two scanners can never drift.
    */
  private def splitTopLevel(s: String): Seq[String] =
    graft.plans.NamedArgs.splitTopLevel(s)

  private val namedArgRe = raw"(?s)^([A-Za-z_]\w*)\s*=>\s*(.+)$$".r

  /** Argument-type compatibility of one evaluated value against one
    * declared parameter type: 3 = assignable as-is, 2 = numeric
    * widening ([[EvalCoercion]]'s surface), 1 = SQL NULL into a
    * reference slot, Int.MinValue = incompatible.
    */
  private def typeScore(param: Class[_], v: AnyRef): Int = {
    def isNumeric(t: Class[_]): Boolean =
      (t.isPrimitive && t != java.lang.Boolean.TYPE && t != java.lang.Character.TYPE) ||
        classOf[java.lang.Number].isAssignableFrom(t)
    v match {
      case null => if (param.isPrimitive) Int.MinValue else 1
      case _ if !param.isPrimitive && param.isInstance(v) => 3
      case _: java.lang.Number if isNumeric(param) => 2
      case _: java.lang.Boolean if param == java.lang.Boolean.TYPE => 3
      case _ => Int.MinValue
    }
  }

  /** Execute `CALL name(argsSql)` — see the class doc. Arguments may be
    * all-positional or all-named (`pname => expr`, the FLIP-387 named-
    * argument convention the window TVFs already normalize): named
    * arguments map onto the positional bridge by the call method's
    * reflected parameter names, which javac records under `-parameters`.
    * Same-arity overloads are ranked by argument-type compatibility
    * rather than first-match.
    */
  def call(spark: SparkSession, name: String, argsSql: String): DataFrame = {
    val className = Option(registry(spark).get(name.toLowerCase)).getOrElse(
      throw new IllegalArgumentException(s"procedure '$name' is not registered"))
    val cls = org.apache.spark.sql.GraftColumnBridge.loadTaskClass(className)
    val items = splitTopLevel(argsSql)
    val namedItems = items.map(namedArgRe.findFirstMatchIn(_))
    val useNamed = namedItems.nonEmpty && namedItems.forall(_.isDefined)
    if (!useNamed && namedItems.exists(_.isDefined))
      throw new IllegalArgumentException(
        s"CALL $name: arguments must be all positional or all named " +
          "(pname => expr) — mixing is not supported, as in Flink")
    val argNames: Seq[String] =
      if (useNamed) namedItems.map(_.get.group(1).toLowerCase) else Seq.empty
    if (useNamed && argNames.distinct.length != argNames.length)
      throw new IllegalArgumentException(
        s"CALL $name: duplicate named argument " +
          argNames.diff(argNames.distinct).distinct.mkString(", "))
    val valueSqls: Seq[String] =
      if (useNamed) namedItems.map(_.get.group(2)) else items
    val args: Array[AnyRef] =
      if (valueSqls.isEmpty) Array.empty
      else {
        val row = spark.sql(valueSqls.mkString("SELECT ", ", ", "")).head()
        Array.tabulate(row.length)(i => row.get(i).asInstanceOf[AnyRef])
      }
    // named calls may omit @ArgumentHint(isOptional) parameters, so a
    // candidate just needs AT LEAST the supplied count; positional
    // calls keep the exact-arity filter
    val candidates =
      if (useNamed) callMethods(cls).filter(_.getParameterCount - 1 >= argNames.length)
      else callMethods(cls).filter(_.getParameterCount == args.length + 1)
    if (candidates.isEmpty)
      throw new IllegalArgumentException(
        s"procedure '$name' ($className) has no public call method taking " +
          s"a context + ${if (useNamed) "at least " else ""}${args.length} " +
          "argument(s); available arities: " +
          callMethods(cls).map(_.getParameterCount - 1).sorted.mkString(", "))
    // per-candidate argument order: named args permute onto the
    // candidate's parameter names — FunctionParams.paramDef reads a
    // duck-typed @ArgumentHint (name + isOptional) first, the compiled
    // `-parameters` name otherwise; omitted OPTIONAL parameters fill
    // null (FLIP-387's default-less optional argument). Positional is
    // identity.
    val usable: Seq[(Method, Array[AnyRef])] = candidates.flatMap { m =>
      if (!useNamed) Some((m, args))
      else {
        val defs = m.getParameters.drop(1).toSeq.map(FunctionParams.paramDef)
        if (defs.exists(_.isEmpty)) None
        else {
          val dd = defs.map(_.get)
          val names = dd.map(_.name)
          val unknown = argNames.filterNot(names.contains)
          val missing = dd.filterNot(d => d.optional || argNames.contains(d.name))
          if (unknown.nonEmpty || missing.nonEmpty) None
          else Some((m, dd.map(d =>
            if (argNames.contains(d.name)) args(argNames.indexOf(d.name))
            else null: AnyRef).toArray))
        }
      }
    }
    if (usable.isEmpty) {
      val detail = candidates.map { m =>
        val defs = m.getParameters.drop(1).toSeq.map(FunctionParams.paramDef)
        if (defs.forall(_.isDefined))
          defs.map(_.get).map(d =>
            if (d.optional) s"[${d.name}]" else d.name).mkString("(", ", ", ")")
        else "(parameter names not recorded — compile the procedure with " +
          "javac -parameters, or annotate each parameter with " +
          "@ArgumentHint(name = ...), to enable named arguments)"
      }
      throw new IllegalArgumentException(
        s"CALL $name: named arguments ${argNames.mkString("(", ", ", ")")} match " +
          s"no call method; candidates take ${detail.mkString("; ")}")
    }
    // rank same-arity overloads by argument-type compatibility
    val scored = usable.map { case (m, ordered) =>
      val ps = m.getParameterTypes.drop(1)
      val s = ordered.zip(ps).foldLeft(0L) { case (acc, (v, p)) =>
        acc + typeScore(p, v) }
      (m, ordered, s)
    }
    val best = scored.maxBy(_._3)
    if (best._3 < 0)
      throw new IllegalArgumentException(
        s"CALL $name: no call overload accepts argument types " +
          args.map(a => if (a == null) "NULL" else a.getClass.getSimpleName)
            .mkString("(", ", ", ")") + "; candidates: " +
          candidates.map(_.getParameterTypes.drop(1).map(_.getSimpleName)
            .mkString("(", ", ", ")")).mkString("; "))
    val (m, orderedArgs) = (best._1, best._2)
    val params = m.getParameterTypes
    val ctx: AnyRef =
      if (params(0).isInterface)
        Proxy.newProxyInstance(params(0).getClassLoader, Array(params(0)),
          new InvocationHandler {
            def invoke(proxy: Any, method: Method, a: Array[AnyRef]): AnyRef =
              method.getName match {
                case "toString" => s"graft-procedure-context($name)"
                case "hashCode" => Integer.valueOf(System.identityHashCode(proxy))
                case "equals" => java.lang.Boolean.valueOf(a != null && (a(0) eq proxy.asInstanceOf[AnyRef]))
                case other => throw new UnsupportedOperationException(
                  s"ProcedureContext.$other is not available here — the reference's " +
                    "execution-environment handle has no analog; procedures that " +
                    "need it must be ported to a graft operator")
              }
          })
      else null
    val coerced = new Array[AnyRef](orderedArgs.length + 1)
    coerced(0) = ctx
    var i = 0
    while (i < orderedArgs.length) {
      coerced(i + 1) = EvalCoercion.coerce(params(i + 1), orderedArgs(i)); i += 1
    }
    val inst =
      if (Modifier.isStatic(m.getModifiers)) null
      else cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
    val out =
      try m.invoke(inst, coerced: _*)
      catch {
        case e: java.lang.reflect.InvocationTargetException =>
          throw Option(e.getCause).getOrElse(e)
      }
    val elems: Seq[Any] = out match {
      case null => Seq.empty
      case a: Array[_] => a.toSeq
      case it: java.lang.Iterable[_] =>
        import scala.jdk.CollectionConverters._
        it.asScala.toSeq
      case it: Iterable[_] => it.toSeq
      case one => Seq(one)
    }
    import spark.implicits._
    // result-type dispatch keys on the first NON-NULL element and only
    // keeps the typed column when ALL elements agree — a heterogeneous
    // array renders every element via String.valueOf instead of
    // ClassCastException-ing on the second one
    def homog(p: Any => Boolean): Boolean = elems.forall(e => e == null || p(e))
    elems.find(_ != null) match {
      case Some(_: String) if homog(_.isInstanceOf[String]) =>
        elems.map(_.asInstanceOf[String]).toDF("result")
      case Some(_: java.lang.Long) if homog(_.isInstanceOf[java.lang.Long]) =>
        elems.map(e => Option(e).map(_.asInstanceOf[java.lang.Long].longValue))
          .toDF("result")
      case Some(_: java.lang.Integer) if homog(_.isInstanceOf[java.lang.Integer]) =>
        elems.map(e => Option(e).map(_.asInstanceOf[java.lang.Integer].longValue))
          .toDF("result")
      case Some(_: java.lang.Double) if homog(_.isInstanceOf[java.lang.Double]) =>
        elems.map(e => Option(e).map(_.asInstanceOf[java.lang.Double].doubleValue))
          .toDF("result")
      case Some(_: java.lang.Boolean) if homog(_.isInstanceOf[java.lang.Boolean]) =>
        elems.map(e => Option(e).map(_.asInstanceOf[java.lang.Boolean].booleanValue))
          .toDF("result")
      case Some(_) =>
        elems.map(e => if (e == null) null else String.valueOf(e)).toDF("result")
      case None if elems.isEmpty => Seq.empty[String].toDF("result")
      case None => elems.map(_ => None: Option[String]).toDF("result")
    }
  }
}
