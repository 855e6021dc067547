package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Materialize.scanned
import graft.functions.{MaxCosineExpr, TextFunctions}

/** The north-star pipeline COMPOSED end-to-end — the job a pre-training
  * data team actually runs, five stages over one shared corpus (SURVEY.md
  * north_star). Each stage's rule is one function, which the stage
  * queries (q79, q95, q100, q127, q134) and the incremental pipeline
  * ([[graft.streaming.StreamingCuration]], q150) call too:
  *
  *   1. EXACT dedup      — [[Dedup.keepMinIdPerText]];
  *   2. NEAR-DUP dedup   — the q148 production-recall chain on the
  *                         survivors' embeddings (banded LSH at
  *                         [[Similarity.lshParams]]' 0.99 recall target,
  *                         exact verify at [[NearDupCosine]], connected
  *                         components, keep min id per component);
  *   3. DECONTAMINATION  — [[decontaminate]] against the [[EvalSet]];
  *   4. QUALITY          — [[QualityClassifier.trainWeak]] (q134's
  *                         model), keep [[QualityClassifier.passes]];
  *   5. PACKING          — [[packingPlan]] over the final survivors.
  *
  * Scale shape: every stage is linear scans + key-equi joins (the
  * near-dup stage is the measured-at-100× q148 chain; decontamination
  * broadcasts the ≤200-doc eval set; training is 5 Newton scans with one
  * 65×65 driver solve) — no stage collects the corpus, and the
  * inter-stage hand-off is an ID SET (semi-joins), so document text
  * re-shuffles in no stage after its own kernel.
  *
  * The planted crawl ([[plantedCrawl]]) models what the stages exist
  * for: exact copies of every 7th page (same text, same vector),
  * near-dup rewrites of every 4th ([[twinText]], [[twinVector]]) — so
  * each dedup stage has real, separately-attributable work, and
  * PipelineSpec pins the per-stage removals exactly.
  */
object CurationPipeline {

  /** The planted-row id layout: a planted row takes its base row's id
    * plus a multiple of this offset, far above any fixture id. The query
    * corpora (`Text.plantedDocs`, `Vector.plantedCorpus`) put each twin
    * at +1×; the crawl ([[plantedCrawl]]) puts exact copies at +1× and
    * twins at +2×.
    */
  val PlantedIdOffset = 1000000000000000L

  /** Cosine at or above which two embeddings are near-duplicates. */
  val NearDupCosine = 0.95

  /** Documents with an id below this are the benchmark (eval) slice. */
  val EvalIdMax = 200L

  /** Tokens per training window of [[packingPlan]]. */
  val WindowTokens = 2048

  /** A planted near-dup of a document: its text plus ONE appended word
    * (3-shingle Jaccard ≈ 0.89–0.97). DuckDB replays it as
    * `text || ' zyxappend'`.
    */
  def twinText(text: Column): Column = concat(text, lit(" zyxappend"))

  /** A planted near-dup of a vector, v + 0.25·rot(v) (cosine ≈ 0.97 to v,
    * the twin is each planted vector's exact global top-1).
    */
  def twinVector(v: Column): Column =
    transform(v, (x, i) => x + lit(0.25) * element_at(v, pmod(i + 1, size(v)) + 1))

  /** The crawl corpus: base docs (+vectors where the fixture has them),
    * exact copies of every 7th doc at id + [[PlantedIdOffset]], near-dup
    * twins of every 4th at id + 2·[[PlantedIdOffset]] ([[twinText]];
    * [[twinVector]] when the base has a vector).
    */
  def plantedCrawl(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
      col("source"))
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + PlantedIdOffset).as("doc_id"), col("text"), col("source"))
    val twins = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 2 * PlantedIdOffset).as("doc_id"),
        twinText(col("text")).as("text"), col("source"))
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("cast(embedding as array<double>)").as("v"))
    val vecCopies = vecs.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + PlantedIdOffset).as("vec_id"), col("v"))
    val vecTwins = vecs.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 2 * PlantedIdOffset).as("vec_id"),
        twinVector(col("v")).as("v"))
    (docs.unionByName(copies).unionByName(twins),
      vecs.unionByName(vecCopies).unionByName(vecTwins))
  }

  /** The benchmark slice decontamination tests against: the vectors and
    * the distinct word 8-grams of the docs with id below [[EvalIdMax]].
    * Both are small by nature, so they ride the plan as broadcast
    * values and the corpus side needs no join.
    */
  final case class EvalSet(vecs: Array[Array[Double]], shingles: Set[String])

  private val EvalShingleN = 8

  /** The [[EvalSet]] of a crawl: `docs` (doc_id, text) and `vecs`
    * (vec_id, v). Two small collects.
    */
  def evalSet(docs: DataFrame, vecs: DataFrame): EvalSet = EvalSet(
    vecs.filter(col("vec_id") < EvalIdMax).select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray),
    TextFunctions.explodedWordShingles(docs.filter(col("doc_id") < EvalIdMax),
      Seq("doc_id"), "text", EvalShingleN)
      .select(col("shingle")).distinct().collect().map(_.getString(0)).toSet)

  /** Stage 3's rule: the ids of `keep` that survive decontamination. The
    * benchmark slice (ids below [[EvalIdMax]]) leaves, and so does every
    * other id whose vector sits at cosine ≥ 0.9 to an eval vector or
    * whose text shares a word 8-gram with an eval doc. `texts`
    * (doc_id, text) and `vecs` (doc_id, v) carry the content of `keep`'s
    * ids; a doc with no vector (or a null one) is judged on its text.
    * Both tests are exact, and neither depends on arrival order, so the
    * batch and the incremental pipeline reach the same verdicts.
    */
  def decontaminate(keep: DataFrame, texts: DataFrame, vecs: DataFrame,
      eval: EvalSet): DataFrame = {
    val id = col("doc_id")
    val vecContam = vecs.filter(id >= EvalIdMax && MaxCosineExpr(col("v"), eval.vecs) >= 0.9)
      .select(id)
    val shingles = keep.sparkSession.sparkContext.broadcast(eval.shingles)
    val inEval = udf((sh: String) => sh != null && shingles.value.contains(sh))
    val textContam = TextFunctions
      .explodedWordShingles(texts.filter(id >= EvalIdMax), Seq("doc_id"), "text",
        EvalShingleN)
      .filter(inEval(col("shingle")))
      .select(id).distinct()
    val drop = vecContam.unionByName(textContam).distinct()
      .unionByName(keep.filter(id < EvalIdMax))
    keep.join(drop, Seq("doc_id"), "left_anti")
  }

  /** The packing plan (q95): per source, documents laid out in doc_id
    * order, each assigned to the [[WindowTokens]]-token window its first
    * token lands in; one row per (source, bin) with its `n_docs` and
    * `n_tokens`. The running sum is per source — packing at corpus scale
    * is a per-shard operation, so the window never needs a global order.
    */
  def packingPlan(docs: DataFrame): DataFrame = {
    val nTok = col("n_tok")
    docs.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("cum_before",
        sum(nTok).over(Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)) - nTok)
      .withColumn("bin", expr(s"cum_before div $WindowTokens"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens"))
  }

  /** Each stage's (rows_in, rows_out), packing reporting windows, plus
    * each stage's surviving id set (ids only —
    * bounded hand-off state; PipelineSpec re-checks the decontamination
    * invariant against keepClean with the exact q136 kernel), plus the
    * run's REUSABLE inputs and side artifacts: the checkpointed crawl
    * frames, the eval set and the trained quality model. q150 drives the
    * SAME crawl through the incremental kernel against this batch run
    * with these side inputs, instead of re-deriving them.
    */
  final case class Run(stages: Map[String, (Long, Long)], keepExact: DataFrame,
      keepNear: DataFrame, keepClean: DataFrame, keepQual: DataFrame,
      docs: DataFrame, vecs: DataFrame, eval: EvalSet,
      model: QualityClassifier.Model)

  def runDetailed(s: SparkSession, d: String): Run = {
    import s.implicits._
    val (docs0, vecs0) = plantedCrawl(s, d)
    val vecs = vecs0.localCheckpoint(true)
    val (docs, n0) = scanned(docs0)(_.count())

    // ---- 1. exact dedup
    val (keepExact, n1) = scanned(Dedup.keepMinIdPerText(docs))(_.count())

    // ---- 2. embedding near-dup at the production recall target (q148):
    // survivors' vectors only — banded LSH candidates, exact verify,
    // CC, keep min id per component
    val (v1, nVecs) = scanned(vecs.join(keepExact.withColumnRenamed("doc_id", "vec_id"),
      Seq("vec_id"), "left_semi"))(_.count())
    val (b, t) = Similarity.lshParams(nVecs, NearDupCosine)
    val pairs = Similarity
      .lshNearDupPairs(v1, "vec_id", "v", NearDupCosine, nPlanes = b, nTables = t)
      .select($"a_id", $"b_id")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
    val dropNear = cc.filter($"id" =!= $"component").select($"id".as("doc_id"))
    val (keepNear, n2) =
      scanned(keepExact.join(dropNear, Seq("doc_id"), "left_anti"))(_.count())

    // ---- 3. decontamination
    val eval = evalSet(docs, vecs)
    val (keepClean, n3) = scanned(decontaminate(keepNear,
      docs.join(keepNear, Seq("doc_id"), "left_semi"),
      v1.withColumnRenamed("vec_id", "doc_id").join(keepNear, Seq("doc_id"), "left_semi"),
      eval))(_.count())

    // ---- 4. quality: q134's model
    val (feats, model) =
      QualityClassifier.trainWeak(docs.join(keepClean, Seq("doc_id"), "left_semi"))
    val (keepQual, n4) = scanned(feats
      .filter(QualityClassifier.passes(QualityClassifier.score($"f", model)))
      .select($"doc_id", $"source", $"text"))(_.count())

    // ---- 5. packing
    val n5 = packingPlan(keepQual).count()

    Run(
      Map(
        "1_exact_dedup" -> (n0, n1),
        "2_neardup_dedup" -> (n1, n2),
        "3_decontamination" -> (n2, n3),
        "4_quality_filter" -> (n3, n4),
        "5_packing_windows" -> (n4, n5)),
      keepExact, keepNear, keepClean, keepQual.select($"doc_id"),
      docs, vecs, eval, model)
  }
}
