package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The composed north-star pipeline's stage invariants at fixture scale
  * (round-12 verdict item 4): each stage's removal is attributable to
  * the structure planted for it — exact copies to stage 1, near-dup
  * twins to stage 2, the benchmark slice + its text twins to stage 3 —
  * and the hand-off between stages is exact (rows_in of stage k+1 ==
  * rows_out of stage k).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val run =
    graft.operators.CurationPipeline.runDetailed(spark, TestSpark.sfDir)
  private lazy val stages = run.stages

  private lazy val counts = {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val n = docs.count()
    val nCopies = docs.filter($"doc_id" % 7 === 0).count()
    val nTwins = docs.filter($"doc_id" % 4 === 0).count()
    val nVecTwins = Tables.embeddings(spark, TestSpark.sfDir)
      .filter($"vec_id" % 4 === 0).count()
    (n, nCopies, nTwins, nVecTwins)
  }

  test("stages chain exactly: rows_in(k+1) == rows_out(k)") {
    val order = Seq("1_exact_dedup", "2_neardup_dedup", "3_decontamination",
      "4_quality_filter", "5_packing_windows")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(stages(a)._2 == stages(b)._1, s"$a out != $b in: $stages")
    }
  }

  test("stage 1 removes exactly the planted exact copies") {
    val (n, nCopies, nTwins, _) = counts
    val (in1, out1) = stages("1_exact_dedup")
    assert(in1 == n + nCopies + nTwins, s"crawl size: $stages")
    assert(out1 == n + nTwins, s"exact dedup must drop the $nCopies copies " +
      s"and nothing else: $stages")
  }

  test("stage 2 removes the planted near-dup twins at >= the 0.99 recall target, precision 1") {
    val (_, _, _, nVecTwins) = counts
    val (in2, out2) = stages("2_neardup_dedup")
    val removed = in2 - out2
    // only twins WITH vectors are findable by the embedding chain; the
    // fixture corpus has no non-twin pairs at 0.95, so removals beyond
    // nVecTwins would be precision failures
    assert(removed <= nVecTwins, s"near-dup removed non-twins: $stages")
    assert(removed >= math.floor(0.99 * nVecTwins).toLong,
      s"near-dup recall under target ($removed of $nVecTwins): $stages")
  }

  test("stage 3 removes the benchmark slice and its contaminated neighbors — verified by the exact kernel") {
    import spark.implicits._
    val (in3, out3) = stages("3_decontamination")
    // the eval ids (< 200) present after stages 1-2 must all leave, plus
    // their surviving TEXT twins (2M+i for i < 200, i % 4 == 0, whose
    // vector twin the near-dup stage may already have removed)
    val nEvalBase = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" < 200).count()
    assert(in3 - out3 >= nEvalBase, s"decontamination must at least remove " +
      s"the $nEvalBase benchmark docs: $stages")
    // no benchmark id survives
    assert(run.keepClean.filter($"doc_id" < 200).count() == 0,
      "benchmark ids survived decontamination")
    // the exact q136 kernel re-scores every SURVIVOR with a vector: none
    // may sit at cosine >= 0.9 to the eval matrix
    val (_, vecs) = graft.operators.CurationPipeline.plantedCrawl(spark, TestSpark.sfDir)
    val eval = vecs.filter($"vec_id" < 200)
      .select($"v").collect().map(_.getSeq[Double](0).toArray)
    val contaminated = vecs
      .join(run.keepClean.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_semi")
      .select($"vec_id", graft.functions.MaxCosineExpr($"v", eval).as("mc"))
      .filter($"mc" >= 0.9).count()
    assert(contaminated == 0,
      s"$contaminated surviving vectors sit at cosine >= 0.9 to the eval set")
  }

  test("stage 5 conserves tokens: windows sum to the survivors' token count") {
    val (in5, out5) = stages("5_packing_windows")
    assert(out5 > 0 && out5 <= in5 * 2, s"window count shape: $stages")
  }

  test("quality filter keeps a sane share (the weak-label corpus is mostly keepable)") {
    val (in4, out4) = stages("4_quality_filter")
    assert(out4 > in4 / 2, s"quality filter dropped most of the corpus: $stages")
    assert(out4 <= in4)
  }

  test("streaming continuous curation over 4 batches equals the q149 batch result") {
    import spark.implicits._
    import graft.operators.{CurationPipeline, QualityClassifier, Similarity}
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("stream_curation").toString
    // the SAME planted crawl, one row per doc with its vector attached
    val (docs, vecs) = CurationPipeline.plantedCrawl(spark, TestSpark.sfDir)
    val crawl = docs
      .join(vecs.select($"vec_id".as("doc_id"), $"v"), Seq("doc_id"), "left")
      .select($"doc_id", $"text", $"source", $"v")

    // side inputs — the production convention: near-dup geometry and the
    // quality model are periodic batch refreshes, applied in-stream. The
    // eval set is rebuilt from this crawl, and the model retrains on the
    // batch run's keepClean corpus with the stage-4 recipe (deterministic
    // Newton → the same weights q149 used).
    val (b, t) = Similarity.lshParams(run.keepExact.count(), CurationPipeline.NearDupCosine)
    val (_, model) =
      QualityClassifier.trainWeak(docs.join(run.keepClean, Seq("doc_id"), "left_semi"))
    val cfg = graft.streaming.StreamingCuration.Config(nPlanes = b, nTables = t,
      eval = CurationPipeline.evalSet(docs, vecs), model = model)

    // id-range batch splits — base lower half, base upper half, exact
    // copies (+1e15), near-dup twins (+2e15): every duplicate group's
    // minimal member arrives no later than the rest, the regime where
    // incremental keep-first coincides with the batch keep-min-id
    val rows = crawl.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getSeq[Double](3)))
    val off = CurationPipeline.PlantedIdOffset
    val baseIds = rows.map(_._1).filter(_ < off).sorted
    val mid = baseIds(baseIds.length / 2)
    val splits = Seq(
      rows.filter(_._1 < mid),
      rows.filter(r => r._1 >= mid && r._1 < off),
      rows.filter(r => r._1 >= off && r._1 < 2 * off),
      rows.filter(_._1 >= 2 * off))
    assert(splits.forall(_.nonEmpty), "all four batches must carry rows")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, String, String, Seq[Double])]
    // compactEvery = 2: the in-stream (replay-safe, exclude-current)
    // compaction pass runs mid-stream, so the stream ≡ batch equality
    // below also certifies compaction changes nothing a later batch sees
    val q = graft.streaming.StreamingCuration.run(
      input.toDF().toDF("doc_id", "text", "source", "v"), cfg,
      s"$tmp/store", s"$tmp/out", s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactEvery = 2)
    try {
      splits.foreach { s => input.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"doc_id").as[Long].collect().toSet
    val batchKept = run.keepQual.as[Long].collect().toSet
    assert(streamed == batchKept,
      s"stream-over-4-batches must equal the q149 batch survivors: " +
        s"stream-only=${(streamed -- batchKept).take(5)} " +
        s"batch-only=${(batchKept -- streamed).take(5)}")
    // packing the accumulated streamed survivors (the snapshot-time
    // pass) yields the batch run's stage-5 window count
    val packedN = CurationPipeline.packingPlan(spark.read.parquet(s"$tmp/out")).count()
    assert(packedN == stages("5_packing_windows")._2,
      s"snapshot packing over streamed survivors: $packedN windows vs batch")

    // exactly-once under at-least-once replay (the IncrementalDedup
    // discipline carried to all THREE stores). Spark only ever replays
    // the LATEST uncommitted batch — never one behind later commits —
    // so the property to pin is: re-running a batch whose store writes
    // already landed must not score it against its own failed
    // attempt's md5/bucket/vector rows (they're batch_id-excluded) and
    // must reproduce the identical survivor set
    val batch0 = spark.createDataFrame(spark.sparkContext.parallelize(
      splits.head.map { case (id, tx, src, v) =>
        org.apache.spark.sql.Row(id, tx, src, v) }),
      crawl.schema)
    val firstRun = graft.streaming.StreamingCuration
      .processBatch(batch0, cfg, s"$tmp/store2", batchId = 0L)
      .select($"doc_id").as[Long].collect().toSet
    val replayed = graft.streaming.StreamingCuration
      .processBatch(batch0, cfg, s"$tmp/store2", batchId = 0L)
      .select($"doc_id").as[Long].collect().toSet
    assert(replayed == firstRun && firstRun.nonEmpty,
      s"a replayed batch must reproduce its committed survivors: " +
        s"replay-only=${(replayed -- firstRun).take(5)} " +
        s"lost=${(firstRun -- replayed).take(5)}")

    // ---- periodic store compaction: folding committed batch
    // partitions into one sorted partition changes NOTHING a later
    // batch observes. Two parallel stores, identical batches 0..1;
    // compact one; identical batches 2..3 must keep identical survivors
    // on both, and the compacted store must hold fewer files.
    def mkBatch(s: Seq[(Long, String, String, Seq[Double])]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        s.map { case (id, tx, src, v) =>
          org.apache.spark.sql.Row(id, tx, src, v) }), crawl.schema)
    def fileCount(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .count(f => f.toString.endsWith(".parquet"))
    }
    Seq(s"$tmp/storeC", s"$tmp/storeU").foreach { store =>
      splits.take(2).zipWithIndex.foreach { case (s, i) =>
        graft.streaming.StreamingCuration
          .processBatch(mkBatch(s), cfg, store, batchId = i.toLong).count()
      }
    }
    val filesBefore = fileCount(s"$tmp/storeC")
    graft.streaming.StreamingCuration.compactStores(spark, s"$tmp/storeC")
    val filesAfter = fileCount(s"$tmp/storeC")
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count: $filesBefore -> $filesAfter")
    splits.drop(2).zipWithIndex.foreach { case (s, i) =>
      val kc = graft.streaming.StreamingCuration
        .processBatch(mkBatch(s), cfg, s"$tmp/storeC", batchId = (i + 2).toLong)
        .select($"doc_id").as[Long].collect().toSet
      val ku = graft.streaming.StreamingCuration
        .processBatch(mkBatch(s), cfg, s"$tmp/storeU", batchId = (i + 2).toLong)
        .select($"doc_id").as[Long].collect().toSet
      // equality is the property (the copies batch legitimately keeps 0
      // BECAUSE the store blocks it — lost store rows would surface as
      // spuriously-kept duplicates here)
      assert(kc == ku,
        s"batch ${i + 2} over the compacted store diverged: " +
          s"compact-only=${(kc -- ku).take(5)} uncompact-only=${(ku -- kc).take(5)}")
    }
    // and the stores themselves hold the same logical content
    Seq(("md5", "h"), ("vec", "vec_id"), ("bucket", "vec_id")).foreach {
      case (sub, k) =>
        val a = spark.read.parquet(s"$tmp/storeC/$sub").select(k).distinct().count()
        val b = spark.read.parquet(s"$tmp/storeU/$sub").select(k).distinct().count()
        assert(a == b, s"store $sub diverged after compaction: $a vs $b distinct $k")
    }
    graft.streaming.StreamingCuration.deleteStore(tmp)
  }

  // ---- a small synthetic crawl for the store-discipline cases below
  private val dim = 64
  // deterministic per-seed Gaussian vectors: pairwise cosine ~ N(0, 1/64),
  // so only a planted identical-vector twin clears the 0.95 threshold
  private def vec(seed: Long): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(dim)(rnd.nextGaussian())
  }
  /** (doc_id, text, vector seed) rows as a crawl batch. */
  private def mk(rows: Seq[(Long, String, Long)]) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, tx, vSeed) =>
        org.apache.spark.sql.Row(id, tx, "web", vec(vSeed)) }),
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, source STRING, v ARRAY<DOUBLE>"))
  private lazy val cfg = {
    val evalV = { val r = new scala.util.Random(-1L); Array.fill(dim)(r.nextGaussian()) }
    graft.streaming.StreamingCuration.Config(nPlanes = 8, nTables = 2,
      eval = graft.operators.CurationPipeline.EvalSet(Array(evalV), Set.empty),
      model = graft.operators.QualityClassifier.Model(Seq.fill(dim)(0.0), 10.0, Nil))
  }
  // the synthetic ids start above the benchmark slice, which
  // decontamination always drops
  private val id0 = graft.operators.CurationPipeline.EvalIdMax

  test("compaction swap is crash-ordered: a kill between the renames loses no store row") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    val tmp = java.nio.file.Files.createTempDirectory("crash_compaction").toString
    val store = s"$tmp/store"

    val batch0 = (1L to 20L).map(i => (id0 + i, s"document number $i with its own words", i))
    StreamingCuration.processBatch(mk(batch0), cfg, store, batchId = 0L).count()

    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    // kill EVERY store's compaction between rename-aside and rename-in —
    // the exact window where delete-then-rename had already destroyed
    // the live tree
    Seq(("md5", Seq("h")), ("vec", Seq("vec_id")),
        ("bucket", Seq("table", "bucket", "vec_id"))).foreach { case (sub, keys) =>
      intercept[StreamingCuration.InjectedCrash] {
        StreamingCuration.compactOne(spark, s"$store/$sub", keys,
          exclude = None, crashAt = 1)
      }
      assert(!exists(s"$store/$sub") && exists(s"$store/$sub" + "__old"),
        s"crash window must leave the $sub store aside at __old")
    }
    // the next batch leans on every store's memory: 20 exact copies of
    // batch 0 (md5 store) and one identical-vector twin of doc 1
    // (vec + bucket stores). A lost store re-admits them silently.
    val batch1 =
      (21L to 40L).map(i => (id0 + i, s"document number $i with its own words", i)) ++
      batch0.map { case (id, tx, vs) => (id + 40L, tx, vs + 100L) } :+
      ((id0 + 61L, "fresh words but a copied vector", 1L))
    val survivors = StreamingCuration
      .processBatch(mk(batch1), cfg, store, batchId = 1L)
      .select($"doc_id").as[Long].collect().toSet
    val fresh = (21L to 40L).map(id0 + _).toSet
    assert(survivors == fresh,
      s"post-crash batch must still see every store row: " +
        s"readmitted=${(survivors -- fresh).toSeq.sorted.take(5)} " +
        s"lost=${(fresh -- survivors).toSeq.sorted.take(5)}")

    // crash AFTER the commit rename: the new tree is live, only a stale
    // __old aside remains — reads prefer the live tree, and the next
    // pass cleans the aside and converges
    val before = spark.read.parquet(s"$store/md5").select($"h").distinct().count()
    intercept[StreamingCuration.InjectedCrash] {
      StreamingCuration.compactOne(spark, s"$store/md5", Seq("h"),
        exclude = None, crashAt = 2)
    }
    assert(exists(s"$store/md5") && exists(s"$store/md5__old"),
      "crash-at-cleanup must leave the new live tree in place")
    assert(spark.read.parquet(s"$store/md5").select($"h").distinct().count() == before,
      "the compacted live tree must carry every digest")
    StreamingCuration.compactOne(spark, s"$store/md5", Seq("h"), exclude = None)
    assert(exists(s"$store/md5") && !exists(s"$store/md5__old"),
      "a follow-up pass must clean the stale aside")
    assert(spark.read.parquet(s"$store/md5").select($"h").distinct().count() == before,
      "the follow-up pass changed the store's content")
    StreamingCuration.deleteStore(tmp)
  }

  test("a batch that fails mid-way has no store write of its attempt outlive the replay") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("failed_attempt").toString
    val store = s"$tmp/store"
    // a corrupt file in a committed md5 partition: the attempt starts its
    // async md5 write, then its stage-1 store read throws
    val corrupt = Paths.get(store, "md5", "batch_id=7", "part-corrupt.parquet")
    Files.createDirectories(corrupt.getParent)
    Files.write(corrupt, "not a parquet file".getBytes("UTF-8"))
    val attempt = (1L to 20L).map(i => (i, s"attempt one document $i", i))
    intercept[Exception] {
      StreamingCuration.processBatch(mk(attempt), cfg, store, batchId = 0L)
    }
    // the failure propagated only once the attempt's write had finished:
    // its partition is committed and no staging output is left in flight
    import scala.jdk.CollectionConverters._
    def inFlight = {
      val walk = Files.walk(Paths.get(store, "md5"))
      try walk.iterator().asScala.map(_.getFileName.toString)
        .exists(n => n.startsWith(".spark-staging") || n == "_temporary")
      finally walk.close()
    }
    assert(Files.isDirectory(Paths.get(store, "md5", "batch_id=0")) && !inFlight,
      "processBatch threw while its md5 store write was still running")
    // the replay (the corruption repaired) carries other rows: its own
    // rows, and none of the failed attempt's, make up the batch's partition
    Files.delete(corrupt)
    val replay = (101L to 110L).map(i => (i, s"replayed document $i", i))
    StreamingCuration.processBatch(mk(replay), cfg, store, batchId = 0L).count()
    val stored = spark.read.parquet(s"$store/md5").filter($"batch_id" === 0L)
      .select($"h").as[String].collect().sorted.toSeq
    val expected = mk(replay).select(md5($"text")).as[String].collect().sorted.toSeq
    assert(stored == expected)
    StreamingCuration.deleteStore(tmp)
  }

  test("Parallel.all returns or throws only after every started action has finished") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Parallel.all(() => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); done.set(true); 0 })
    }
    assert(e.getMessage == "first" && done.get,
      "the failure propagated while its sibling was still running")
  }
}
