package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Search

/** Incremental full-text index maintenance for a DOCUMENT STREAM — the
  * continuously-updated retrieval-index shape: every micro-batch's
  * documents tokenize into (doc, term, tf, dl) postings appended to a
  * persistent parquet store, and BM25 queries run against the
  * accumulated index at any time, scoring EXACTLY like the batch
  * operator over every document ingested so far (the scoring pipeline
  * is literally shared — [[graft.operators.Search.bm25FromTf]]).
  * [U] the reference's dynamic-table materialization (flink-table
  * upsert sinks): the index is an upsert view of the stream keyed by
  * document id.
  *
  * UPSERT semantics: a later batch re-ingesting a doc_id supersedes
  * every earlier version — reads resolve each document to its
  * highest-batch_id rows ([[latestPostings]]), so a re-crawled page
  * scores with its new text only. Within one batch a doc_id must be
  * unique (standard changelog contract).
  *
  * Exactly-once under at-least-once replay: the store write is keyed
  * by micro-batch id with dynamic partition overwrite (the
  * [[IncrementalDedup]] discipline) — a replayed batch replaces its
  * own partition instead of double-appending.
  *
  * Periodic COMPACTION folds committed batch partitions into ~128 MB
  * files range-partitioned + sorted by (term, id) — a term lookup then
  * prunes to a few row groups instead of one small file per past
  * batch. Version resolution runs BEFORE the fold (see
  * [[StreamingCuration.compactOne]]'s `resolve` hook), and the swap is
  * the same crash-ordered rename-aside/rename-in/delete-old with
  * `__old` recovery on read.
  *
  * Scale shape: postings are narrow (id, term, tf, dl) rows; per batch
  * the work is one tokenize + one map-side-combined aggregate over the
  * BATCH (store-size-independent); a query reads the store pruned by
  * its broadcast term set. Documents with zero tokens produce no
  * postings and are invisible to the index (they also match no query),
  * so index-derived corpus stats (N, avgdl) count tokenized documents
  * — the one deliberate delta from the batch operator, which counts
  * every input row; they agree whenever every document has a token.
  */
object StreamingIndex {

  /** Tokenize and append one batch's postings to the store at
    * `storePath`. `batchId` ≥ 0 keys the write for idempotent replay;
    * −1 is the unmanaged-append mode for callers that sequence batches
    * themselves and never retry one.
    */
  def indexBatch(batch: DataFrame, idCol: String, textCol: String,
      storePath: String, batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(storePath)
    StreamingCuration.recoverStore(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    val postings = Search.termFrequencies(batch, idCol, textCol)
      .withColumn("batch_id", lit(math.max(batchId, -1L)))
    if (batchId >= 0)
      postings.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(storePath)
    else postings.write.mode("append").partitionBy("batch_id").parquet(storePath)
  }

  /** The current index contents with upsert resolution applied: each
    * document's rows from its HIGHEST batch_id only (compacted rows
    * live at batch_id = −1, superseded by any later re-ingest), with
    * tombstoned documents absent (a doc whose winning version is a
    * `-D` null-term marker reads as not indexed). Columns
    * (id, term, tf, dl, batch_id); empty frame if nothing indexed yet.
    */
  def latestPostings(spark: SparkSession, storePath: String,
      idCol: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StreamingCuration.recoverStore(fs, p)
    if (fs.exists(p)) resolveLive(spark.read.parquet(storePath), idCol)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        s"$idCol BIGINT, term STRING, dl BIGINT, tf BIGINT, batch_id BIGINT"))
  }

  /** [[resolveLatest]] + tombstone removal: the winning version's rows,
    * minus null-term `-D` markers — resolution already discarded every
    * older real version a tombstone masks, so dropping the marker rows
    * leaves exactly the LIVE documents.
    */
  private[graft] def resolveLive(postings: DataFrame, idCol: String): DataFrame =
    resolveLatest(postings, idCol).filter(col("term").isNotNull)

  /** Apply one CHANGELOG batch to the index: `+I`/`+U` rows upsert
    * their document's postings, `-D` rows write a TOMBSTONE (a single
    * null-term row) that masks every earlier version of the id — the
    * Flink changelog contract (`row_kind` as produced by
    * [[graft.operators.Changelog]] / CDC formats) applied to a
    * materialized index. `-U` (retract-before-update) rows are ignored:
    * the paired `+U` supersedes by upsert semantics. If one batch
    * carries both an upsert and a `-D` for the same id, the upsert
    * wins (a changelog's net effect per key, matching Flink's upsert
    * materialization).
    *
    * A tombstoned document disappears from every read (search, stats)
    * immediately, and its postings are PHYSICALLY removed from the
    * store at the next compaction (the resolve hook drops resolved
    * tombstones after they have masked everything — the
    * right-to-erasure discipline); a later re-ingest of the id simply
    * wins by higher batch_id.
    */
  def indexChangelog(batch: DataFrame, idCol: String, textCol: String,
      storePath: String, batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(storePath)
    StreamingCuration.recoverStore(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    val upserts = batch.filter(col("row_kind").isin("+I", "+U"))
    val tombstones = batch.filter(col("row_kind") === "-D")
      .select(col(idCol)).distinct()
      .join(upserts.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), lit(null).cast("string").as("term"),
        lit(0L).as("dl"), lit(0L).as("tf"))
    val out = Search.termFrequencies(upserts, idCol, textCol)
      .select(col(idCol), col("term"), col("dl"), col("tf"))
      .unionByName(tombstones)
      .withColumn("batch_id", lit(math.max(batchId, -1L)))
    if (batchId >= 0)
      out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(storePath)
    else out.write.mode("append").partitionBy("batch_id").parquet(storePath)
  }

  /** Delete documents from the index (the GDPR-erasure entry point):
    * sugar for a changelog batch of pure `-D` rows. Masked immediately,
    * physically erased at the next compaction.
    */
  def deleteDocs(ids: DataFrame, idCol: String, storePath: String,
      batchId: Long = -1L): Unit =
    indexChangelog(
      ids.select(col(idCol)).withColumn("row_kind", lit("-D"))
        .withColumn("__text", lit("")),
      idCol, "__text", storePath, batchId)

  /** The version-resolved postings restricted to `terms`, as a LITERAL
    * IN filter so it reaches the parquet scan (row-group pruning on the
    * (term, id)-sorted compacted files) — the frame [[searchBm25]]
    * materializes for scoring. Plan-locked in StreamingIndexSpec.
    */
  private[graft] def prunedPostings(spark: SparkSession, storePath: String,
      idCol: String, terms: Seq[String]): DataFrame =
    latestPostings(spark, storePath, idCol)
      .filter(col("term").isInCollection(terms))

  /** Keep only each document's rows from its highest batch_id (the
    * upsert view). One map-side-combined aggregate + a semi-join on
    * (id, batch_id) — never a window over the full store.
    */
  private[graft] def resolveLatest(postings: DataFrame, idCol: String): DataFrame =
    postings.join(
      postings.groupBy(col(idCol)).agg(max(col("batch_id")).as("batch_id")),
      Seq(idCol, "batch_id"), "left_semi")

  /** BM25 top-`k` per query against the CURRENT index — the same
    * ranking the batch operator ([[Search.bm25TopK]]) produces over all
    * ingested (latest-version) documents, by shared construction.
    */
  def searchBm25(spark: SparkSession, storePath: String, idCol: String,
      queries: Seq[(Int, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val all = latestPostings(spark, storePath, idCol)
    // corpus stats read only (id, dl) — a 2-column pruned scan; the
    // scoring side reads only the query terms' postings, as a literal
    // IN filter that reaches the parquet scan (the compacted store is
    // (term, id)-sorted, so row-group stats prune everything else).
    // Version resolution still sees every id's batches (the max-batch
    // aggregate runs on the narrow side before the term filter).
    val stats = all.select(col(idCol), col("dl")).distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl").cast("double")).as("avgdl"))
    // materialized once: it feeds both the df rollup and the scoring
    // join, and re-deriving it would re-run the version-resolution
    // semi-join over the store
    val tf = prunedPostings(spark, storePath, idCol,
      queries.flatMap(_._2).distinct).localCheckpoint(true)
    val qTerms = Search.queryTermsDf(spark, queries)
    Search.rankTopK(
      Search.bm25FromTf(tf, stats, qTerms, idCol, k1, b), idCol, k)
  }

  /** Fold committed batch partitions into one consolidated, sorted
    * partition (batch_id = −1). Versions resolve before the fold and
    * resolved tombstones are PHYSICALLY dropped (their masking work is
    * done: every committed version they cover is discarded by
    * resolution, and any future or in-flight batch outranks the folded
    * −1 partition by batch_id). `exclude = Some(inFlightBatch)` makes
    * the pass replay-safe in-stream (that batch's partitions carry
    * over verbatim).
    */
  def compactIndex(spark: SparkSession, storePath: String, idCol: String,
      exclude: Option[Long] = None): Unit =
    StreamingCuration.compactOne(spark, storePath, Seq("term", idCol),
      exclude, resolve = resolveLive(_, idCol))

  /** Deploy over a streaming Dataset of documents: each micro-batch
    * indexes into the store; `compactEvery = n > 0` compacts in-stream
    * after every n-th batch (replay-safe — the in-flight batch is
    * excluded from the fold). `checkpointLocation` must be durable;
    * restarting on the same checkpoint resumes at the committed offset.
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
      storePath: String, checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        indexBatch(batch, idCol, textCol, storePath, batchId)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compactIndex(batch.sparkSession, storePath, idCol,
            exclude = Some(batchId))
      }
      .start()
}
