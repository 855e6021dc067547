package graft

import java.io.IOException
import java.nio.file.{Files, InvalidPathException, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated fixture tables (TESTDATA.md).
  *
  * One parquet file per table under `/root/testdata/sf0.001` (and 0.01, 0.1
  * siblings). These are plain
  * `spark.read.parquet` scans — filters/projections issued downstream are
  * pushed into the scan by Catalyst (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`), which is the 100 TB-scale posture: never materialize a
  * table wider or longer than the query needs.
  *
  * Schema inference runs once per file, not once per load — the analog of
  * Flink resolving a table's schema when it enters the catalog. Parquet
  * inference starts a Spark job that reads the footer; a cached load
  * passes the recorded schema to `spark.read.schema(..)` and starts none.
  * The cache is JVM-wide and keyed on:
  *   - the canonical path, so `dir/../dir/t.parquet` and a symlink share
  *     one entry;
  *   - the size, the last-modified time at full precision and the
  *     `fileKey` (inode on POSIX), so a file rewritten or moved into place
  *     at the same path is inferred again;
  *   - the session's SQL conf map, because settings such as
  *     `spark.sql.legacy.parquet.nanosAsLong` or
  *     `spark.sql.parquet.inferTimestampNTZ.enabled` change the inferred
  *     type.
  * Every load still builds a fresh relation, so a self-join of two loads
  * keeps distinct attribute ids. Paths that are not a regular local file
  * (Spark-written parquet directories, URIs) bypass the cache and infer
  * on every load.
  */
object Tables {
  val names: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  private final case class FileId(path: String, size: Long, modified: FileTime,
      fileKey: AnyRef, conf: Map[String, String])

  private val schemas = new ConcurrentHashMap[FileId, StructType]()

  private def read(spark: SparkSession, path: String): DataFrame =
    fileId(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(id) =>
        val known = schemas.get(id)
        if (known != null) spark.read.schema(known).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(id, df.schema)
          df
        }
    }

  /** The cache key of `path`, or None when it is not a regular local file. */
  private def fileId(spark: SparkSession, path: String): Option[FileId] =
    try {
      val p = Paths.get(path).toRealPath()
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      if (!a.isRegularFile) None
      else Some(FileId(p.toString, a.size, a.lastModifiedTime, a.fileKey,
        spark.conf.getAll))
    } catch {
      case _: InvalidPathException | _: IOException => None
    }

  /** Loader contract: `events.ts` always surfaces as `TimestampType`,
    * whatever parquet logical type the fixture generator emitted. Observed
    * layouts across driver regenerations:
    *   - INT64 TIMESTAMP(NANOS) → arrives as `LongType` nanos (under
    *     `spark.sql.legacy.parquet.nanosAsLong`); truncate to micros.
    *   - plain `timestamp[us]` without timezone → arrives as
    *     `TimestampNTZType`; cast to `TimestampType` (value-identical under
    *     the pinned UTC session zone).
    *   - micros with UTC adjustment → already `TimestampType`; pass through.
    * The oracle does `CAST(ts AS TIMESTAMP)` in DuckDB, which agrees with
    * all three. Pinned by the events-timestamp-layouts case in FormatsSpec.
    */
  private[graft] def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
}
