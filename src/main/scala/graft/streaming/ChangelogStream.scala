package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Retract-stream materialization — the reference's `toChangelogStream`
  * on an arbitrary table ([U] flink-table-api `StreamTableEnvironment
  * .toChangelogStream`, `flink-core/.../types/RowKind.java`): any query
  * result becomes a `row_kind`-tagged (+I / -U / +U / -D) changelog.
  *
  * Flink derives the changelog from its internal retraction machinery;
  * Spark's Catalyst has no changelog trait, so the Spark-native
  * equivalent is MATERIALIZED-VIEW DIFFING: each micro-batch produces a
  * complete snapshot of the query result (Spark's complete output mode —
  * or any per-batch recomputation in `foreachBatch`), and the changelog
  * is the keyed diff of successive snapshots. Cost per batch is
  * O(|result| + |prev result|) — a keyed shuffle join of two RESULT
  * snapshots (not inputs), which for the aggregate queries users retract
  * over is small; the diff never touches the source data. At 100 TB the
  * snapshots are themselves distributed tables, the diff a co-partitioned
  * join, and the prior snapshot persists columnar — no driver state.
  *
  * Emitted semantics match the CDC decoders in
  * [[graft.operators.Changelog]]: an update emits the OLD row as `-U`
  * and the new as `+U` (in that order via `row_seq`), a new key `+I`,
  * a vanished key `-D`. `Changelog.materialize` applied to the
  * accumulated log (ordered by `(batch_id, row_seq)`) reconstructs the
  * final snapshot exactly — spec-locked.
  */
object ChangelogStream {

  /** Keyed diff of two result snapshots → row_kind-tagged changelog.
    * Output: `row_kind`, `row_seq` (orders -U before +U within a key),
    * then every column of the snapshots. `prev` may be empty (first
    * batch: everything is `+I`). Non-key columns are compared as a
    * struct, so any atomic/array/struct payload diffs correctly.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = cur.columns.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains), s"keys $keys ⊄ $cols")
    val payload = cols.filterNot(keys.contains)
    def pack(df: DataFrame, side: String): DataFrame = df.select(
      struct(cols.map(col): _*).as(s"__row_$side"),
      struct(keys.map(col): _*).as(s"__k_$side"),
      struct(payload.map(col): _*).as(s"__p_$side"))
    val p = pack(prev, "p")
    val c = pack(cur, "c")
    // join on the PACKED key struct, not the raw columns: struct equality
    // compares null fields as equal (ordering semantics), so a NULL
    // grouping key diffs as one changed row instead of a spurious -D/+I
    // pair. The cost is that Catalyst cannot reuse an upstream groupBy's
    // hash partitioning (partitioned by k, required by struct(k)) — one
    // extra exchange per side, on RESULT snapshots, which is the right
    // trade (a -D/+I mis-pairing under equal seq numbers would break
    // Changelog.materialize's replay).
    val joined = p.join(c, col("__k_p") === col("__k_c"), "full_outer")
    // +I: new key; -D: vanished key; changed payload: -U(old) then +U(new)
    val tagged = joined.select(explode(
      when(col("__k_p").isNull,
        array(struct(lit("+I").as("row_kind"), lit(0).as("row_seq"),
          col("__row_c").as("payload"))))
      .when(col("__k_c").isNull,
        array(struct(lit("-D").as("row_kind"), lit(0).as("row_seq"),
          col("__row_p").as("payload"))))
      .when(col("__p_p") =!= col("__p_c"), array(
        struct(lit("-U").as("row_kind"), lit(0).as("row_seq"),
          col("__row_p").as("payload")),
        struct(lit("+U").as("row_kind"), lit(1).as("row_seq"),
          col("__row_c").as("payload"))))
      // unchanged rows fall through to NULL — explode emits nothing
    ).as("r"))
    tagged.select(col("r.row_kind").as("row_kind"), col("r.row_seq").as("row_seq"),
      col("r.payload.*"))
  }

  /** Wrap a COMPLETE-mode streaming aggregation (or any per-batch full
    * recomputation) into a changelog stream: each micro-batch diffs the
    * new snapshot against the previous one (kept as parquet under
    * `stateDir` — distributed, columnar, no driver state), emits the
    * changelog (with `batch_id`) to `sink`, then atomically swaps the
    * stored snapshot. Restart-safe the way foreachBatch is: a replayed
    * batch re-diffs against the snapshot version its predecessor
    * committed.
    */
  def toChangelog(snapshots: DataFrame, keys: Seq[String], stateDir: String)(
      sink: DataFrame => Unit): StreamingQuery = {
    val spark = snapshots.sparkSession
    snapshots.writeStream.outputMode("complete").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val cur = batch.localCheckpoint(true) // pin: foreachBatch frames are transient
        // ALL snapshot I/O goes through Hadoop's FileSystem for the path —
        // java.io.File would silently see a different (driver-local) view
        // than the parquet reads/writes on HDFS/S3A, making every batch
        // diff against an empty prev and re-emit the full snapshot
        val hconf = spark.sparkContext.hadoopConfiguration
        val prevP = new org.apache.hadoop.fs.Path(s"$stateDir/prev")
        val nextP = new org.apache.hadoop.fs.Path(s"$stateDir/next")
        val hfs = prevP.getFileSystem(hconf)
        val prev =
          if (hfs.exists(prevP)) spark.read.parquet(prevP.toString)
          else cur.limit(0)
        val diff = snapshotDiff(prev, cur, keys)
          .withColumn("batch_id", lit(batchId))
          .localCheckpoint(true) // materialize BEFORE the snapshot swap
        sink(diff)
        cur.write.mode("overwrite").parquet(nextP.toString)
        // atomic-enough swap on a local/posix fs; object stores would
        // version the path by batchId instead. A failed rename must
        // SURFACE — a silent false return would freeze the snapshot.
        if (hfs.exists(prevP) && !hfs.delete(prevP, true))
          throw new java.io.IOException(s"could not delete $prevP for the snapshot swap")
        if (!hfs.rename(nextP, prevP))
          throw new java.io.IOException(s"could not rename $nextP to $prevP")
    }.start()
  }
}
