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
  */
object GraftSession {

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
