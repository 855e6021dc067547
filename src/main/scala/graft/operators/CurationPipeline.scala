package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions

/** The north-star pipeline COMPOSED end-to-end — the job a pre-training
  * data team actually runs, chaining the individually-proven stages
  * over one shared corpus (SURVEY.md north_star; the per-stage kernels
  * are q27 / q148 / q136+q142 / q134 / q95's):
  *
  *   1. EXACT dedup       — md5(text) keyed, keep min id;
  *   2. NEAR-DUP dedup    — the q148 production-recall chain on the
  *                          survivors' embeddings (`lshParams` at its
  *                          default 0.99 target → banded LSH candidates
  *                          → exact-cosine verify → connected
  *                          components → keep min id per component);
  *   3. DECONTAMINATION   — the benchmark slice (ids < 200) leaves the
  *                          corpus, plus every survivor too close to it:
  *                          embedding max-cosine ≥ 0.9 against the
  *                          broadcast eval matrix (vector side, q136's
  *                          kernel) OR any shared 8-gram via a Bloom-
  *                          prefiltered shingle join (text side, q142's
  *                          kernel — catches near-copies with no vector);
  *   4. QUALITY           — q134's Newton-trained hashed-BoW logistic
  *                          classifier, drop score ≤ 0.5;
  *   5. PACKING           — q95's per-source 2048-token window plan over
  *                          the final survivors.
  *
  * Scale shape: every stage is linear scans + key-equi joins (the
  * near-dup stage is the measured-at-100× q148 chain; decontamination
  * broadcasts a ≤200-row side; training is 5 Newton scans with one
  * 65×65 driver solve) — no stage collects the corpus, and the
  * inter-stage hand-off is an ID SET (semi-joins), so document text
  * re-shuffles in no stage after its own kernel. Returns one row per
  * stage: (stage, rows_in, rows_out) with packing reporting windows.
  *
  * The planted crawl ([[plantedCrawl]]) models what the stages exist
  * for: exact copies of every 7th page (same text, same vector),
  * near-dup rewrites of every 4th (one appended word, perturbed
  * vector) — so each dedup stage has real, separately-attributable
  * work, and PipelineSpec pins the per-stage removals exactly.
  */
object CurationPipeline {

  private val CopyOff = 1000000000000000L
  private val TwinOff = 2000000000000000L

  /** The crawl corpus: base docs (+vectors where the fixture has them),
    * exact copies of every 7th doc at id+1e15, near-dup twins of every
    * 4th at id+2e15 (text + one word; vector perturbed by the
    * plantedCorpus rule when the base has one).
    */
  def plantedCrawl(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
      col("source"))
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + CopyOff).as("doc_id"), col("text"), col("source"))
    val twins = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + TwinOff).as("doc_id"),
        concat(col("text"), lit(" zyxappend")).as("text"), col("source"))
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("cast(embedding as array<double>)").as("v"))
    val vecCopies = vecs.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + CopyOff).as("vec_id"), col("v"))
    val vecTwins = vecs.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + TwinOff).as("vec_id"),
        expr("transform(v, (x, i) -> x + 0.25d * element_at(v, pmod(i + 1, size(v)) + 1))")
          .as("v"))
    (docs.unionByName(copies).unionByName(twins),
      vecs.unionByName(vecCopies).unionByName(vecTwins))
  }

  /** The stage table plus each stage's surviving id set (ids only —
    * bounded hand-off state; PipelineSpec re-checks the decontamination
    * invariant against keepClean with the exact q136 kernel), plus the
    * run's REUSABLE inputs and side artifacts: the checkpointed crawl
    * frames, the collected eval matrix, the distinct eval-shingle frame
    * and the trained quality model. q150 drives the SAME crawl through
    * the incremental kernel against this batch run — before round 16 it
    * re-derived every one of these from scratch (a second plantedCrawl,
    * a second eval collect + shingle distinct, and a second IDENTICAL
    * 5-iteration Newton training = ~10 redundant jobs; §1.2 "don't
    * compute things you throw away").
    */
  final case class Run(stages: DataFrame, keepExact: DataFrame,
      keepNear: DataFrame, keepClean: DataFrame, keepQual: DataFrame,
      docs: DataFrame, vecs: DataFrame, evalVecs: Array[Array[Double]],
      evalSh: DataFrame, model: QualityClassifier.Model)

  def runDetailed(s: SparkSession, d: String): Run = {
    import s.implicits._
    val (docs0, vecs0) = plantedCrawl(s, d)
    // LAZY checkpoint + immediate count: the count's full scan
    // materializes the checkpoint blocks, so checkpoint-then-count is ONE
    // job instead of two (§1.2 fewer passes; the same fusion the CC loop
    // uses for its convergence probe). Applied to every checkpoint whose
    // next operation is its own full-scan count.
    val docs = docs0.localCheckpoint(false)
    val vecs = vecs0.localCheckpoint(true)
    val n0 = docs.count()

    // ---- 1. exact dedup: keep the min doc_id of each identical text.
    // The shuffle carries the 32-byte digest, never the text (q27).
    val keepExact = docs.select($"doc_id", md5($"text").as("__h"))
      .groupBy($"__h").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id").localCheckpoint(false)
    val n1 = keepExact.count()

    // ---- 2. embedding near-dup at the production recall target (q148):
    // survivors' vectors only — banded LSH candidates, exact verify,
    // CC, keep min id per component
    val v1 = vecs.join(keepExact.withColumnRenamed("doc_id", "vec_id"),
      Seq("vec_id"), "left_semi").localCheckpoint(false)
    val (b, t) = Similarity.lshParams(v1.count(), 0.95)
    val pairs = Similarity
      .lshNearDupPairs(v1, "vec_id", "v", 0.95, nPlanes = b, nTables = t)
      .select($"a_id", $"b_id")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
    // dropNear is consumed exactly once (the anti-join below, computed
    // during keepNear's checkpoint) — an eager checkpoint of it was one
    // pure-overhead materialization job (§1.2: fewer passes)
    val dropNear = cc.filter($"id" =!= $"component").select($"id".as("doc_id"))
    val keepNear = keepExact.join(dropNear, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val n2 = keepNear.count()

    // ---- 3. decontamination: the benchmark slice (ids < 200) leaves,
    // and so does anything close to it — by embedding cosine (vector
    // side, one broadcast codegen kernel) or by a shared 8-gram (text
    // side, Bloom-prefiltered; catches near-copies with no vector)
    val evalVecs = vecs.filter($"vec_id" < 200)
      .select($"v").collect().map(_.getSeq[Double](0).toArray)
    val evalNorms = evalVecs.map(v => math.sqrt(v.map(x => x * x).sum))
    val vecContam = v1.join(keepNear.withColumnRenamed("doc_id", "vec_id"),
        Seq("vec_id"), "left_semi")
      .filter($"vec_id" >= 200)
      .select($"vec_id".as("doc_id"),
        graft.functions.MaxCosineExpr($"v", evalVecs, evalNorms).as("mc"))
      .filter($"mc" >= 0.9).select($"doc_id")
    val survDocs = docs.join(keepNear, Seq("doc_id"), "left_semi")
    val evalSh = TextFunctions
      .explodedWordShingles(docs.filter($"doc_id" < 200), Seq("doc_id"), "text", 8)
      .select($"shingle").distinct().localCheckpoint(false)
    val bloom = evalSh.stat.bloomFilter("shingle", math.max(evalSh.count(), 1L), 0.01)
    val bloomB = s.sparkContext.broadcast(bloom)
    val mightHave = udf((sh: String) => sh != null && bloomB.value.mightContain(sh))
    val textContam = TextFunctions
      .explodedWordShingles(survDocs.filter($"doc_id" >= 200),
        Seq("doc_id"), "text", 8)
      .filter(mightHave($"shingle"))
      .join(broadcast(evalSh), "shingle")
      .select($"doc_id").distinct()
    // dropContam: same once-used shape as dropNear — no eager checkpoint
    val dropContam = vecContam.unionByName(textContam).distinct()
      .unionByName(keepNear.filter($"doc_id" < 200))
    val keepClean = keepNear.join(dropContam, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val n3 = keepClean.count()

    // ---- 4. quality: q134's weak labels + 5 Newton scans, keep > 0.5
    val dim = 64
    val labeled = docs.join(keepClean, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"source", $"text",
        TextFunctions.tokenCount($"text").cast("long").as("n_tok"),
        TextFunctions.langScore($"text", TextFunctions.enMarkers).as("n_stop"),
        TextFunctions.punctCount($"text").as("n_punct"),
        length($"text").as("len"))
      .withColumn("y",
        ($"n_tok" >= 5 && $"n_punct" / $"len" <= 0.1 && $"n_stop" > 0).cast("double"))
    val feats = QualityClassifier.featurize(labeled, "text", dim).localCheckpoint(true)
    val model = QualityClassifier.trainNewton(feats, "f", "y", dim, iters = 5)
    val keepQual = feats
      .withColumn("score", QualityClassifier.score($"f", model))
      .filter($"score" > 0.5)
      .select($"doc_id", $"source", $"text").localCheckpoint(false)
    val n4 = keepQual.count()

    // ---- 5. packing: q95's per-source 2048-token window plan
    import org.apache.spark.sql.expressions.Window
    val packed = keepQual
      .select($"doc_id", $"source",
        expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)").as("n_tok"))
      .withColumn("cum_before",
        sum($"n_tok").over(Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)) - $"n_tok")
      .withColumn("bin", expr("cum_before div 2048"))
      .groupBy($"source", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
    val n5 = packed.count()

    Run(
      Seq(
        ("1_exact_dedup", n0, n1),
        ("2_neardup_dedup", n1, n2),
        ("3_decontamination", n2, n3),
        ("4_quality_filter", n3, n4),
        ("5_packing_windows", n4, n5))
        .toDF("stage", "rows_in", "rows_out"),
      keepExact, keepNear, keepClean, keepQual.select($"doc_id"),
      docs, vecs, evalVecs, evalSh, model)
  }
}
