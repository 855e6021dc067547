package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{CurationPipeline, Dedup, QualityClassifier, Similarity}

/** The north-star pipeline run INCREMENTALLY — continuous curation, the
  * production shape of [[graft.operators.CurationPipeline]] at 100 TB:
  * crawl batches arrive as a stream and each micro-batch flows through
  * the batch pipeline's own rule functions:
  *
  *   1. EXACT dedup    — md5(text) vs the persistent digest STORE
  *                       (new-vs-old), then the batch keep-min-id rule
  *                       [[Dedup.keepMinIdPerText]] (new-vs-new);
  *   2. NEAR-DUP dedup — the q148 banded-LSH chain with PERSISTENT
  *                       signature/bucket + vector stores: candidates
  *                       are new-vs-new AND new-vs-old bucket
  *                       collisions, verified exact-cosine, connected
  *                       components over the union — a new document
  *                       drops iff its component touches anything
  *                       already seen, or a smaller-id same-batch doc;
  *   3. DECONTAMINATION— [[CurationPipeline.decontaminate]] against
  *                       the batch run's static eval set — stateless
  *                       side inputs, identical verdicts at any arrival
  *                       order;
  *   4. QUALITY        — a SIDE-INPUT classifier model (the production
  *                       convention: quality models are refreshed by a
  *                       periodic batch job, never retrained per
  *                       micro-batch — online retraining would make
  *                       published verdicts depend on arrival order);
  *   5. survivors land partitioned by batch id; PACKING stays a
  *                       snapshot-time batch pass
  *                       ([[CurationPipeline.packingPlan]]) over the accumulated
  *                       survivors (bins depend on cumulative token
  *                       counts, so packing is defined per training
  *                       snapshot, not per micro-batch).
  *
  * [U] anchor: the reference's streaming deduplication keeps FIRST-seen
  * rows in keyed state (flink-table-runtime operators/deduplicate/);
  * this extends the same keep-first convention to the multi-store
  * curation chain. Keep-first vs the batch run's global keep-min-id:
  * the two agree EXACTLY whenever every duplicate group's minimal
  * member arrives no later than the rest, and every near-dup
  * component's members each connect to some earlier-arrived member —
  * both hold for id-range batch splits (PipelineSpec pins
  * stream-over-N-batches ≡ the q149 batch result on the planted
  * crawl); under adversarial arrival the stream may keep MORE (a later
  * minimal id cannot un-publish an already-kept doc — inherent to any
  * incremental dedup, Flink's included).
  *
  * Exactly-once under at-least-once replay (the [[IncrementalDedup]]
  * discipline): every store row carries `batch_id`, store reads EXCLUDE
  * the current batch's own rows (a replay cannot score against its
  * failed attempt's writes), and all writes are dynamic partition
  * overwrites on batch_id — a replayed batch replaces its own
  * partitions. With a durable checkpoint the restarted query resumes
  * at the committed offset, no batch re-admitted or lost.
  *
  * Scale shape: stores are narrow parquet tables (digest, bucket, and
  * vector rows), membership is equi-joins, nothing collects to the
  * driver but the bounded side inputs (eval matrix < a few hundred
  * vectors; model = dim+1 doubles). Store growth is linear in corpus
  * AND in batch count (one parquet partition per batch): the periodic
  * [[compactStores]] pass folds committed partitions into a few large
  * files range-partitioned + sorted by the store key — the bucket
  * store by (table, bucket) — so each micro-batch's candidate join
  * prunes to the buckets the batch actually touches instead of
  * listing one small file per past batch.
  */
object StreamingCuration {

  /** Side inputs + near-dup geometry: the batch run's eval set and
    * quality model (the featurizer's width is the model's), and the LSH
    * planes/tables. `nPlanes`/`nTables` tune candidate RECALL only
    * (pairs are verified exact-cosine at
    * [[CurationPipeline.NearDupCosine]]), so production recomputes them
    * periodically from store size ([[Similarity.lshParams]]) without
    * affecting precision.
    */
  final case class Config(nPlanes: Int, nTables: Int,
      eval: CurationPipeline.EvalSet, model: QualityClassifier.Model)

  /** One micro-batch through all stages against the stores under
    * `storeDir`; returns the batch's surviving documents
    * (doc_id, source, text). `batchId` ≥ 0 keys every store write for
    * idempotent replay; −1 is unmanaged-append for self-sequenced
    * callers.
    */
  def processBatch(batch: DataFrame, cfg: Config, storeDir: String,
      batchId: Long = -1L): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val writes = scala.collection.mutable.ArrayBuffer.empty[scala.concurrent.Future[Unit]]
    def writeAsync(df: DataFrame, store: String): Unit =
      writes += graft.Parallel.start(writeStore(df, s"$storeDir/$store", batchId))
    val out = try {
      val docs = batch.select($"doc_id", $"text", $"source", $"v")
        .localCheckpoint(true)

      // ---- 1. exact dedup: the batch keep-min-id rule over the texts
      // whose digest the persistent store has not seen
      val md5Store = readStore(spark, s"$storeDir/md5", batchId,
        "h STRING, batch_id BIGINT")
      // store writes are kicked off async once their read frame is frozen
      // (readStore listed the files above; a replayed batch's own rows are
      // excluded by batch_id either way) and awaited before return — the
      // write job backfills executors while the stage's compute jobs run
      writeAsync(docs.select(Dedup.textKey($"text").as("h")).distinct(), "md5")
      val keepExact = Dedup.keepMinIdPerText(
          docs.join(md5Store, Dedup.textKey($"text") === $"h", "left_anti"))
        .localCheckpoint(true)

      // ---- 2. near-dup vs the persistent bucket + vector stores. A doc
      // with NO vector (the crawl's left join) skips this stage entirely,
      // exactly like the batch pipeline's vecs-semi-join — it can be
      // neither a near-dup candidate nor a store entry.
      // ONE checkpoint carries the vectors AND their bucket arrays (the
      // separate newVecs/newB materializations were two jobs over the same
      // rows); the exploded index view below is a narrow recompute from it
      val newVB = docs.join(keepExact, Seq("doc_id"), "left_semi")
        .filter($"v".isNotNull)
        .select($"doc_id".as("vec_id"), $"v",
          graft.functions.LshBucketsExpr($"v", cfg.nPlanes, Similarity.EmbeddingDim,
            cfg.nTables).as("bs"))
        .localCheckpoint(true)
      val newVecs = newVB.select($"vec_id", $"v")
      val oldVecs = readStore(spark, s"$storeDir/vec", batchId,
        "vec_id BIGINT, v ARRAY<DOUBLE>, batch_id BIGINT")
        .select($"vec_id", $"v")
      val newB = newVB.select($"vec_id",
        posexplode($"bs").as(Seq("table", "bucket")))
      val oldB = readStore(spark, s"$storeDir/bucket", batchId,
        "table INT, bucket INT, vec_id BIGINT, batch_id BIGINT")
        .select($"table", $"bucket", $"vec_id")
      // both stage-2 stores read above — their writes overlap the
      // candidate/CC work below. ALL post-exact vectors
      // enter the stores, kept or near-dup-dropped — a rejected near-dup
      // still blocks its own future copies
      writeAsync(newVecs, "vec")
      writeAsync(newB, "bucket")
      // candidates: new-vs-new (a < b) and new-vs-old, dedup'd before the
      // exact verify — the lshNearDupPairs shape with a store side
      val bSide = newB.select($"table".as("tb"), $"bucket".as("bb"), $"vec_id".as("b_id"))
      val candNN = newB.join(bSide,
          $"table" === $"tb" && $"bucket" === $"bb" && $"vec_id" < $"b_id")
        .select($"vec_id".as("a_id"), $"b_id")
      val oSide = oldB.select($"table".as("tb"), $"bucket".as("bb"), $"vec_id".as("b_id"))
      val candNO = newB.join(oSide, $"table" === $"tb" && $"bucket" === $"bb")
        .select($"vec_id".as("a_id"), $"b_id")
      val candidates = candNN.unionByName(candNO).distinct()
      val embAll = newVecs.unionByName(oldVecs)
      val edges = Similarity
        .verifyPairs(embAll, "vec_id", "v", CurationPipeline.NearDupCosine, candidates)
        .select($"a_id", $"b_id")
      val comp = Dedup.connectedComponents(edges, "a_id", "b_id")
        .localCheckpoint(true) // (id, component = min reachable id)
      // a component touching ANY already-seen vector has a published
      // representative — all its new members drop; a new-only component
      // keeps its min id (= the component label)
      val contamComps = comp
        .join(oldVecs.select($"vec_id".as("id")), Seq("id"), "left_semi")
        .select($"component").distinct()
      val dropNear = comp
        .join(newVecs.select($"vec_id".as("id")), Seq("id"), "left_semi")
        .join(contamComps.withColumn("__c", lit(true)), Seq("component"), "left")
        .filter(coalesce($"__c", lit(false)) || $"id" =!= $"component")
        .select($"id".as("doc_id"))
      val keepNear = keepExact.join(dropNear, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)

      // ---- 3. decontamination against the static eval set (order-free).
      // survDocs is NOT checkpointed (r16): its consumers all evaluate
      // lazily in the caller's one output action, and both inputs are
      // already checkpointed — the semi-join is a cheap in-job recompute,
      // while the eager materialization sat on the batch's sequential
      // critical path
      val survDocs = docs.join(keepNear, Seq("doc_id"), "left_semi")
      val keepClean = CurationPipeline.decontaminate(keepNear, survDocs, survDocs, cfg.eval)

      // ---- 4. quality: apply the side-input model
      QualityClassifier.featurize(survDocs.join(keepClean, Seq("doc_id"), "left_semi"),
          "text", cfg.model.weights.size)
        .filter(QualityClassifier.passes(QualityClassifier.score($"f", cfg.model)))
        .select($"doc_id", $"source", $"text")
    } catch { case e: Throwable =>
      // a failed attempt propagates only once its started writes are done:
      // none of them may land after (and so overwrite) the replay's writes
      scala.util.Try(graft.Parallel.awaitAll(writes.toSeq)).failed.foreach(e.addSuppressed)
      throw e
    }
    // every store write committed before the batch hands off — the next
    // batch's reads (and in-stream compaction) see complete stores
    graft.Parallel.awaitAll(writes.toSeq)
    out
  }

  /** Deploy over a streaming crawl (doc_id, text, source, v): each
    * micro-batch runs [[processBatch]] and survivors land at `outPath`
    * partitioned by batch id. Packing a training snapshot is a batch
    * pass over `outPath` afterwards (q95's window plan).
    *
    * `compactEvery = n > 0` runs [[compactStores]] in-stream after
    * every n-th batch, REPLAY-SAFE: the fold excludes the in-flight
    * batch's partitions (they stay keyed under their own batch_id), so
    * a crash between compaction and the checkpoint commit replays the
    * batch against a store that still excludes its own failed writes.
    */
  def run(crawl: DataFrame, cfg: Config, storeDir: String, outPath: String,
      checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    crawl.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, cfg, storeDir, batchId)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compactStores(batch.sparkSession, storeDir, exclude = Some(batchId))
      }
      .start()

  /** A store read that can be empty (first batch) and never sees the
    * current batch's own rows (replay safety). Recovers a store whose
    * compaction crashed between its two renames (see [[recoverStore]]).
    */
  private def readStore(spark: SparkSession, path: String, batchId: Long,
      ddl: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStore(fs, p)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    if (fs.exists(p)) {
      // the store schema is KNOWN (the ddl arg) — passing it skips the
      // per-read footer-inference job (3 store reads × every micro-batch)
      val raw = spark.read.schema(schema).parquet(path)
      if (batchId >= 0) raw.filter(col("batch_id") =!= batchId) else raw
    } else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Periodic store COMPACTION: fold every batch partition of the
    * md5/vector/bucket stores into one consolidated partition
    * (batch_id = −1, the unmanaged slot no replay ever excludes),
    * deduped on the store key and range-partitioned + sorted by it —
    * the bucket store by (table, bucket), so a micro-batch's candidate
    * join reads a few large stat-pruned files instead of one small
    * file per past batch; md5 by digest, vectors by id, for the same
    * row-group pruning. Answers are unchanged: every store read goes
    * through distinct/join semantics, and compaction only dedupes and
    * re-layouts (PipelineSpec pins compacted ≡ uncompacted survivors).
    *
    * With `exclude = None`, call at a QUIESCENT point where every
    * written batch is committed: compacted rows lose their batch_id
    * keying, so an uncommitted batch replayed after compaction would
    * see its own failed attempt's rows. `exclude = Some(batchId)`
    * makes the pass safe IN-STREAM for the batch currently in flight:
    * that batch's partitions are carried over verbatim (still keyed,
    * still replay-excluded on read), only the older committed
    * partitions fold.
    */
  def compactStores(spark: SparkSession, storeDir: String,
      exclude: Option[Long] = None): Unit = {
    compactOne(spark, s"$storeDir/md5", Seq("h"), exclude)
    compactOne(spark, s"$storeDir/vec", Seq("vec_id"), exclude)
    compactOne(spark, s"$storeDir/bucket", Seq("table", "bucket", "vec_id"), exclude)
  }

  /** `resolve` (default identity) runs over the committed rows BEFORE
    * the batch_id drop — a store with upsert semantics (e.g. the
    * [[StreamingIndex]] postings, where a later batch re-ingesting a
    * doc supersedes its old rows) resolves versions here so the
    * keyed dedup below cannot collapse two versions arbitrarily.
    */
  private[graft] def compactOne(spark: SparkSession, path: String,
      keys: Seq[String], exclude: Option[Long],
      crashAt: Int = 0, resolve: DataFrame => DataFrame = identity): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStore(fs, p) // a prior pass may have died between its renames
    if (!fs.exists(p)) return
    val bytes = fs.getContentSummary(p).getLength
    val nOut = math.max(1, (bytes / (128L << 20)).toInt) // ~128 MB target files
    val cols = keys.map(col)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    fs.delete(tmp, true) // stale failed attempt — live tree is intact
    fs.delete(old, true) // stale aside from a pass that died pre-cleanup
    val all = spark.read.parquet(path)
    val folded = resolve(
      exclude.map(b => all.filter(col("batch_id") =!= b)).getOrElse(all))
      .drop("batch_id").dropDuplicates(keys)
      .repartitionByRange(nOut, cols: _*)
      .sortWithinPartitions(cols: _*)
      .withColumn("batch_id", lit(-1L))
    val out = exclude match {
      case Some(b) => folded.unionByName(
        all.filter(col("batch_id") === b)
          .select(folded.columns.map(col).toIndexedSeq: _*))
      case None => folded
    }
    out.write.mode("overwrite").partitionBy("batch_id").parquet(tmp.toString)
    // CRASH-ORDERED swap ([U] flink-runtime CheckpointCoordinator's
    // commit-then-cleanup discipline): the live tree is never deleted
    // before its replacement is in place. Every crash point leaves
    // either the live tree or a recoverable `__old` aside — the stores
    // are the pipeline's only memory (NOT reconstructible from replay),
    // so a lost store would silently re-admit every past duplicate.
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"compaction aside rename failed: $p")
    if (crashAt == 1) throw new InjectedCrash // live at __old, tmp intact
    if (!fs.rename(tmp, p)) { // put the live tree back before failing
      fs.rename(old, p)
      throw new java.io.IOException(s"compaction commit rename failed: $p")
    }
    if (crashAt == 2) throw new InjectedCrash // new live in, stale __old
    fs.delete(old, true)
  }

  /** Simulated crash between [[compactOne]]'s swap steps (spec hook). */
  private[graft] final class InjectedCrash
    extends RuntimeException("injected compaction crash")

  /** Crash recovery for the rename-aside/rename-in/delete-old swap: a
    * compaction that died between its two renames leaves the live path
    * missing and the previous tree at `path__old` — restore it (the
    * compacted `__compacting` attempt is discarded and redone by the
    * next pass). Idempotent; a no-op whenever the live tree exists
    * (then a surviving `__old` is just pre-cleanup garbage, removed at
    * the next compaction).
    */
  private[graft] def recoverStore(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(p.toString + "__old")
    if (!fs.exists(p) && fs.exists(old) && !fs.rename(old, p))
      throw new java.io.IOException(s"store crash-recovery rename failed: $old -> $p")
  }

  /** Recursively delete a store directory (q150 / spec teardown). */
  def deleteStore(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Idempotent store append: a keyed batch replaces its own partition. */
  private def writeStore(df: DataFrame, path: String, batchId: Long): Unit = {
    val out = df.withColumn("batch_id", lit(math.max(batchId, -1L)))
    if (batchId >= 0)
      out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(path)
    else out.write.mode("append").partitionBy("batch_id").parquet(path)
  }
}
