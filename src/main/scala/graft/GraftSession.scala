package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's environment defaults (Flink 1.19 TableEnvironment:
  * UTC session time zone, ANSI/error-on-overflow casts — see SURVEY.md §2.8
  * "Casts") on top of Spark 4.1. The same knobs serve a local[N] test run
  * and a cluster: AQE on (runtime re-planning, skew-join handling), shuffle
  * partitions sized to the lane count rather than Spark's default 200.
  *
  * Two settings keep a micro-batch's commit off forked processes and
  * synchronous uploads. Without the native Hadoop library, Hadoop's local
  * file system forks a `chmod` or `stat` for every checkpoint file it
  * creates or renames (34–61 ms per small file, against 0.2 ms for a
  * plain write + fsync + rename), and a RocksDB commit uploads a full
  * snapshot per partition (~110 ms each). The
  * [[graft.streaming.LocalCheckpointFileManager]] writes `file:`
  * checkpoints through java.nio (other schemes keep Hadoop's code), and
  * changelog checkpointing makes a commit write one small changelog,
  * moving snapshot uploads to the state-store maintenance thread.
  *
  * The generated-code cache holds [[CodegenCacheEntries]] compiled
  * classes, not Spark's 100. The 156 declared queries need 1,975
  * distinct classes (sf0.01, `local[4]`), and least-recently-used
  * eviction over a cyclic working set larger than the cache gets no
  * hits: with 100 entries every pass over the suite compiled about
  * 2,830 classes with Janino, and so did every later micro-batch of a
  * wide stream (q150 compiles 461 classes per run, 226 of them
  * distinct). With 4,096 entries a second and a third pass compile a
  * few dozen classes (24 and 18 on the sf0.01 fixtures, 6 and 35 on a
  * seeded benchmark set), from eight queries whose classes change
  * between runs, and a pass takes 50–66 s instead of 90–95 s. The size
  * is about twice the working set because the cache is split into four
  * segments that evict on their own; the bound caps a long ad-hoc session's
  * growth at about 30 MB of metaspace (the suite's three passes grew it
  * by 15 MB). Count compiles with
  * `org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount`.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` (see the object's scaladoc). */
  val CodegenCacheEntries = 4096

  /** Apply graft's standard configuration to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // events.parquet carries INT64 TIMESTAMP(NANOS) — Spark has no nanos
      // timestamp type; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // transformWithState (KeyedProcess operators) requires the RocksDB
      // state store; it is also the at-scale choice (SURVEY.md §2.10).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      // static: sizes the JVM-wide compiled-class cache the first time
      // any session generates code
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Local session for tests / bench. */
  def local(threads: Int = 32, appName: String = "graft"): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$threads]").appName(appName))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runtime-settable confs a driver-provided session may be missing.
    * Query functions call this defensively so they work under any session.
    */
  def ensureRuntimeConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () } // non-runtime in some builds; Tables copes
  }
}
