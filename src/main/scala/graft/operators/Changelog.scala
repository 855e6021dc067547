package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Changelog / CDC-format handling (SURVEY.md §2.1 "CDC formats" and
  * §7.4.1 row_kind convention).
  *
  * The reference decodes debezium-/canal-/maxwell-json into rows tagged
  * with a RowKind (INSERT / UPDATE_BEFORE / UPDATE_AFTER / DELETE).
  * Spark has no changelog streams, so the convention here is an explicit
  * `row_kind` column ("+I" / "-U" / "+U" / "-D") carried alongside the
  * payload — the same encoding our stateful operators (StreamingTopN,
  * KeepLastDedup) emit.
  */
object Changelog {

  /** Payload types eligible for the single-parse fast path of the canal/
    * maxwell decoders: the before-image is reconstructed by CASTing the
    * `old` map's string values, so the type must round-trip JSON →
    * MAP<STRING,STRING> → cast identically to a typed from_json parse.
    * BINARY (cast = UTF-8 bytes vs parse = base64 decode), TIMESTAMP
    * (cast of an epoch-number string yields null where the parser reads
    * epoch seconds) and DATE diverge, so they keep the two-parse shape
    * (r16, ADVICE).
    */
  private def castSafePrimitive(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: StructType | _: ArrayType | _: MapType => false
      case BinaryType | TimestampType | TimestampNTZType | DateType => false
      case _ => true
    }
  }

  /** Decode debezium-style JSON (`{"before":…,"after":…,"op":"c|u|d"}`)
    * into row_kind-tagged payload rows. Updates expand to two rows
    * (UPDATE_BEFORE from `before`, UPDATE_AFTER from `after`), exactly the
    * reference's retract encoding.
    *
    * @param payloadSchema DDL of the before/after record, e.g. "id BIGINT, v DOUBLE"
    */
  def fromDebeziumJson(df: DataFrame, jsonCol: String, payloadSchema: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      s"before STRUCT<$payloadSchema>, after STRUCT<$payloadSchema>, op STRING")
    val parsed = df.withColumn("__cdc", from_json(col(jsonCol), schema))
    val op = col("__cdc.op")
    val rows = parsed.select(
      explode(
        // 'r' is Debezium's snapshot READ — an insert of the initial
        // state, exactly how the reference's decoder maps it; rows with
        // an unrecognized/absent op drop (the ignore-parse-errors shape)
        when(op === "c" || op === "r",
          array(struct(lit("+I").as("row_kind"), col("__cdc.after").as("payload"))))
          .when(op === "d", array(struct(lit("-D").as("row_kind"), col("__cdc.before").as("payload"))))
          .when(op === "u", array(
            struct(lit("-U").as("row_kind"), col("__cdc.before").as("payload")),
            struct(lit("+U").as("row_kind"), col("__cdc.after").as("payload"))))
      ).as("r"))
    rows.select(col("r.row_kind").as("row_kind"), col("r.payload.*"))
  }

  /** Decode canal-style JSON
    * (`{"data":[{…},…],"old":[{…},…],"type":"INSERT|UPDATE|DELETE"}`)
    * into row_kind-tagged payload rows. `data` is an ARRAY of rows (canal
    * batches rows per binlog event); for UPDATE, `old(i)` carries only the
    * CHANGED columns of `data(i)` — the UPDATE_BEFORE row is `data(i)`
    * overlaid with `old(i)`'s non-null fields, the same reconstruction
    * the reference's canal-json decoder performs.
    */
  def fromCanalJson(df: DataFrame, jsonCol: String, payloadSchema: String): DataFrame = {
    val payload = org.apache.spark.sql.types.StructType.fromDDL(payloadSchema)
    // `old` must be read as maps so KEY PRESENCE (not null-ness) decides
    // which columns changed — a column updated FROM NULL must reconstruct
    // a NULL before-image, like the reference's decoder. For all-primitive
    // payloads ONE parse suffices (r15): the map's string values cast to
    // the declared field types exactly as the struct parse would read
    // them, so the second full-document from_json per row is dropped
    // (§1.2 per-row work — the CDC ingest path parses every message once).
    // Non-primitive payload fields keep the two-parse shape: a nested
    // object cannot round-trip through MAP<STRING, STRING>.
    val allPrimitive = payload.fields.forall(f => castSafePrimitive(f.dataType))
    val parsed = if (allPrimitive) {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        s"data ARRAY<STRUCT<$payloadSchema>>, old ARRAY<MAP<STRING, STRING>>, type STRING")
      df.withColumn("__cdc", from_json(col(jsonCol), schema))
        .select(col("__cdc.type").as("__t"), col("__cdc.old").as("__oldMaps"),
          posexplode(col("__cdc.data")).as(Seq("__pos", "__row")))
    } else {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        s"data ARRAY<STRUCT<$payloadSchema>>, old ARRAY<STRUCT<$payloadSchema>>, type STRING")
      val oldKeysSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "old ARRAY<MAP<STRING, STRING>>")
      df.withColumn("__cdc", from_json(col(jsonCol), schema))
        .withColumn("__oldKeys",
          from_json(col(jsonCol), oldKeysSchema).getField("old"))
        .select(col("__cdc.type").as("__t"), col("__cdc.old").as("__old"),
          col("__oldKeys"),
          posexplode(col("__cdc.data")).as(Seq("__pos", "__row")))
    }
    // UPDATE_BEFORE: changed columns from old(pos), the rest from data(pos)
    val before =
      if (allPrimitive)
        struct(payload.fields.toSeq.map { f =>
          val om = element_at(col("__oldMaps"), col("__pos") + 1)
          when(array_contains(map_keys(om), f.name),
            element_at(om, f.name).cast(f.dataType))
            .otherwise(col("__row").getField(f.name)).as(f.name)
        }: _*)
      else
        struct(payload.fieldNames.toSeq.map(f =>
          when(array_contains(
              map_keys(element_at(col("__oldKeys"), col("__pos") + 1)), f),
            element_at(col("__old"), col("__pos") + 1).getField(f))
            .otherwise(col("__row").getField(f)).as(f)): _*)
    val rows = parsed.select(
      explode(
        when(col("__t") === "INSERT",
          array(struct(lit("+I").as("row_kind"), col("__row").as("payload"))))
          .when(col("__t") === "DELETE",
            array(struct(lit("-D").as("row_kind"), col("__row").as("payload"))))
          .when(col("__t") === "UPDATE", array(
            struct(lit("-U").as("row_kind"), before.as("payload")),
            struct(lit("+U").as("row_kind"), col("__row").as("payload"))))
      ).as("r"))
    rows.select(col("r.row_kind").as("row_kind"), col("r.payload.*"))
  }

  /** Decode maxwell-style JSON
    * (`{"data":{…},"old":{…},"type":"insert|update|delete"}`) into
    * row_kind-tagged payload rows — one row per message; `old` carries
    * only the changed columns, overlaid onto `data` for UPDATE_BEFORE
    * exactly as in [[fromCanalJson]].
    */
  def fromMaxwellJson(df: DataFrame, jsonCol: String, payloadSchema: String): DataFrame = {
    val payload = org.apache.spark.sql.types.StructType.fromDDL(payloadSchema)
    // key presence in `old` (parsed as a map), not null-ness, marks a
    // changed column — see fromCanalJson (incl. the r15 single-parse
    // rationale for all-primitive payloads)
    val allPrimitive = payload.fields.forall(f => castSafePrimitive(f.dataType))
    val parsed = if (allPrimitive) {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        s"data STRUCT<$payloadSchema>, old MAP<STRING, STRING>, type STRING")
      df.withColumn("__cdc", from_json(col(jsonCol), schema))
    } else {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        s"data STRUCT<$payloadSchema>, old STRUCT<$payloadSchema>, type STRING")
      df.withColumn("__cdc", from_json(col(jsonCol), schema))
        .withColumn("__oldKeys", map_keys(from_json(col(jsonCol),
          org.apache.spark.sql.types.StructType.fromDDL("old MAP<STRING, STRING>"))
          .getField("old")))
    }
    val before =
      if (allPrimitive)
        struct(payload.fields.toSeq.map(f =>
          when(array_contains(map_keys(col("__cdc.old")), f.name),
            element_at(col("__cdc.old"), f.name).cast(f.dataType))
            .otherwise(col("__cdc.data").getField(f.name)).as(f.name)): _*)
      else
        struct(payload.fieldNames.toSeq.map(f =>
          when(array_contains(col("__oldKeys"), f), col("__cdc.old").getField(f))
            .otherwise(col("__cdc.data").getField(f)).as(f)): _*)
    val t = col("__cdc.type")
    val rows = parsed.select(
      explode(
        when(t === "insert",
          array(struct(lit("+I").as("row_kind"), col("__cdc.data").as("payload"))))
          .when(t === "delete",
            array(struct(lit("-D").as("row_kind"), col("__cdc.data").as("payload"))))
          .when(t === "update", array(
            struct(lit("-U").as("row_kind"), before.as("payload")),
            struct(lit("+U").as("row_kind"), col("__cdc.data").as("payload"))))
      ).as("r"))
    rows.select(col("r.row_kind").as("row_kind"), col("r.payload.*"))
  }

  /** Decode Oracle GoldenGate (ogg) style JSON
    * (`{"before":{…},"after":{…},"op_type":"I|U|D"}`) into row_kind-tagged
    * payload rows — the reference's ogg-json format. GoldenGate emits a
    * full before image on UPDATE (when supplemental logging provides it),
    * so `U` expands to UPDATE_BEFORE from `before` and UPDATE_AFTER from
    * `after` with no overlay reconstruction; `I` carries only `after`,
    * `D` only `before`.
    */
  def fromOggJson(df: DataFrame, jsonCol: String, payloadSchema: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      s"before STRUCT<$payloadSchema>, after STRUCT<$payloadSchema>, op_type STRING")
    val parsed = df.withColumn("__cdc", from_json(col(jsonCol), schema))
    val op = col("__cdc.op_type")
    val rows = parsed.select(
      explode(
        when(op === "I", array(struct(lit("+I").as("row_kind"), col("__cdc.after").as("payload"))))
          .when(op === "D", array(struct(lit("-D").as("row_kind"), col("__cdc.before").as("payload"))))
          .when(op === "U", array(
            struct(lit("-U").as("row_kind"), col("__cdc.before").as("payload")),
            struct(lit("+U").as("row_kind"), col("__cdc.after").as("payload"))))
      ).as("r"))
    rows.select(col("r.row_kind").as("row_kind"), col("r.payload.*"))
  }

  /** Materialize a changelog to current state: net surviving rows are
    * those whose (payload) insert count exceeds retract count. For a
    * well-formed changelog keyed by `keys` this is "apply the log":
    * last non-retracted version per key wins by `seqCol` order.
    */
  def materialize(changelog: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    changelog
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("row_kind").isin("-D", "-U"))
      .drop("__rn")
  }
}
