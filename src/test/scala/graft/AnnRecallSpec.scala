package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Independent-evidence specs for the six golden-only ANN/sketch kernels
  * (q31 minhash bands, q32 simhash, q34 LSH buckets, q42 bucketed ANN,
  * q56 IVF, q102 two-level IVF): recall/precision bounds against the
  * EXACT oracles (brute-force cosine / shingle Jaccard — the q33/q30
  * kernels) on planted near-dup pairs at each query's DECLARED
  * parameters — the golden CSVs pin the output, these pin that the
  * output is any good.
  *
  * Planted vector twins use the same corpus rule as q119
  * (`Vector.plantedCorpus`: v'ᵢ = vᵢ + 0.25·rot(vᵢ), cosine ≈ 0.97 on the
  * fixture); planted document twins append one word (3-shingle Jaccard ≈
  * 0.89–0.97). Everything is hash-seeded and deterministic; floors sit
  * well under the values measured on this fixture when they were set
  * (q42 recall .484, q56 .994, q102 .976, q34 twin-collision .25 vs
  * random .00002, q31 recall 1.0 / estimate err mean .016, q32 hamming
  * twins 5.6 vs random 18.6) so a fixture regeneration has margin.
  */
class AnnRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val twinOff = graft.operators.CurationPipeline.PlantedIdOffset

  // ---- planted vector corpus + exact oracle ----
  private lazy val corpus = {
    val c = graft.queries.Vector.plantedCorpus(spark, TestSpark.sfDir, 1).cache()
    c.count()
    c
  }
  private lazy val baseIds: Array[Long] = {
    import spark.implicits._
    corpus.filter($"vec_id" < twinOff).select($"vec_id").as[Long].collect().sorted
  }

  private def twinRecall(df: org.apache.spark.sql.DataFrame): Double = {
    val byQuery = df.select(col("a_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    baseIds.count(i => byQuery.getOrElse(i, Set.empty).contains(i + twinOff))
      .toDouble / baseIds.length
  }

  test("q42 ann top-k at declared params: twin recall and precision@1 vs exact top-1") {
    import spark.implicits._
    val ann = Similarity.annTopK(corpus, "vec_id", "v", k = 3, nPlanes = 8)
    assert(twinRecall(ann) >= 0.30, "sign-LSH(8 planes) twin recall@3 below floor")
    // precision@1: where ANN answers, its top-1 is the exact global top-1
    // for a solid share of queries (the twin shares the bucket ~half the
    // time at 8 planes; within-bucket the kernel is exact)
    val exactTop1 = Similarity.bruteForceTopK(corpus, "vec_id", "v", 1)
      .collect().map(r => r.getAs[Long]("a_id") -> r.getAs[Long]("neighbor_id")).toMap
    val annTop1 = ann.filter($"rn" === 1)
      .collect().map(r => r.getAs[Long]("a_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(annTop1.nonEmpty)
    val p1 = annTop1.count { case (a, nb) => exactTop1.get(a).contains(nb) }
      .toDouble / annTop1.size
    assert(p1 >= 0.35, f"ann precision@1 $p1%.3f below floor")
  }

  test("q56 ivf top-k at declared params: twin recall@3 against the exact oracle") {
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "v", k = 3, nCells = 0, nProbe = 4)
    val r = twinRecall(ivf)
    assert(r >= 0.90, f"ivf(auto cells, nProbe=4) twin recall@3 $r%.3f below floor")
  }

  test("q102 two-level ivf at declared params: twin recall@3 against the exact oracle") {
    val ivf2 = Similarity.ivfTopK2(corpus, "vec_id", "v", k = 3,
      nCoarse = 16, nFinePerCell = 8, nProbeCoarse = 4, nProbeFine = 8)
    val r = twinRecall(ivf2)
    assert(r >= 0.85, f"ivf2(16/8/4/8) twin recall@3 $r%.3f below floor")
  }

  test("q34 lsh buckets at declared params: twins collide, random pairs don't") {
    import graft.functions.VectorFunctions
    val buckets = corpus
      .select(col("vec_id"), VectorFunctions.lshBucket(col("v"), 16, 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val twinColl = baseIds.count(i => buckets(i) == buckets(i + twinOff))
      .toDouble / baseIds.length
    assert(twinColl >= 0.15, f"16-plane twin collision $twinColl%.3f below floor")
    // random (non-twin) pairs almost never share a 16-bit bucket
    val rnd = new scala.util.Random(7)
    val ids = buckets.keys.toArray.sorted
    val trials = 20000
    val randColl = (1 to trials).count { _ =>
      val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
      a != b && math.abs(a - b) != twinOff && buckets(a) == buckets(b)
    }.toDouble / trials
    assert(randColl <= 0.01, f"random-pair collision $randColl%.5f above ceiling")
    assert(twinColl > 10 * randColl)
  }

  // ---- planted document twins + exact shingle-Jaccard oracle ----
  private lazy val plantedDocs = {
    val p = graft.queries.Text.plantedDocs(spark, TestSpark.sfDir).cache()
    p.count()
    p
  }
  /** exact 3-shingle Jaccard of each planted (doc, twin) pair — the q30
    * oracle kernel's definition, computed directly on the shingle sets */
  private lazy val exactJ: Map[Long, Double] = {
    val sh = graft.functions.TextFunctions
      .explodedWordShingles(plantedDocs, Seq("doc_id"), "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    sh.keys.filter(i => i < twinOff && sh.contains(i + twinOff))
      .map(i => i -> {
        val (a, b) = (sh(i), sh(i + twinOff))
        (a & b).size.toDouble / (a | b).size
      }).toMap
  }

  test("q31 minhash banding at declared params: twin candidate recall vs exact Jaccard") {
    assert(exactJ.nonEmpty && exactJ.values.min >= 0.5,
      "planted twins should be high-Jaccard near-dups")
    val cands = Dedup.minHashCandidates(plantedDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exactJ.keys.count(i => cands.contains((i, i + twinOff)))
      .toDouble / exactJ.size
    // theory at 64 hashes / 16 bands / r=4: P(collide | J≥0.89) ≥ 1−(1−0.89⁴)^16 ≈ 0.99998
    assert(recall >= 0.95, f"minhash candidate twin recall $recall%.3f below floor")
  }

  test("q148 production-recall LSH chain: recall floor + precision 1 vs the FULL exact pair kernel") {
    // the deployment parameter rule (lshParams default target 0.99) —
    // scored against the exhaustive all-pairs oracle, not just the
    // planted-twin subset the declared query's in-engine contract uses
    val n = corpus.count()
    val (b, t) = Similarity.lshParams(n, 0.95)
    val exact = Similarity.embeddingNearDupPairs(corpus, "vec_id", "v", 0.95)
      .select(col("a_id"), col("b_id")).cache()
    val found = Similarity.lshNearDupPairs(corpus, "vec_id", "v", 0.95,
      nPlanes = b, nTables = t).select(col("a_id"), col("b_id")).cache()
    val nExact = exact.count()
    val nFound = found.count()
    val nHit = found.join(exact, Seq("a_id", "b_id"), "left_semi").count()
    assert(nHit == nFound,
      s"precision must be 1 (exact-cosine verify): found=$nFound but only $nHit are exact pairs")
    val recall = nHit.toDouble / nExact
    assert(recall >= 0.99,
      f"production-target recall $recall%.4f below the 0.99 floor (exact=$nExact found=$nFound)")
    // and the declared query's oracled contract row agrees end-to-end
    val row = graft.queries.Vector.q148_neardup_recall99(spark, TestSpark.sfDir).head()
    assert(row.getAs[Long]("n_corpus") == n)
    assert(row.getAs[Boolean]("recall_ok"), "q148 recall_ok contract violated")
    assert(row.getAs[Boolean]("kept_ok"), "q148 kept_ok dedup-budget contract violated")
    exact.unpersist(); found.unpersist()
  }

  test("the seven contract-oracled kernel queries pin every boolean TRUE at fixture scale") {
    // round-12: q31/q32/q34/q42/q48/q56/q102 moved from golden CSVs onto
    // DuckDB contract oracles (the q148 pattern). The oracle pins the
    // booleans TRUE — so they must BE true, or Verify hash-mismatches.
    for (q <- Seq("q31_minhash_bands", "q32_simhash", "q34_ann_lsh_buckets",
      "q42_ann_topk", "q48_winnow_fingerprints", "q56_ivf_topk", "q102_ivf2_topk")) {
      val row = SparkEntry.queries(q)(spark, TestSpark.sfDir).head()
      val schema = row.schema
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (f.dataType == org.apache.spark.sql.types.BooleanType)
          assert(row.getBoolean(i), s"$q contract column ${f.name} is FALSE")
      }
    }
  }

  test("q31 minhash signature agreement estimates the exact Jaccard") {
    val sigs = Dedup.minHashSignatures(plantedDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val errs = exactJ.map { case (i, j) =>
      val (sa, sb) = (sigs(i), sigs(i + twinOff))
      val est = sa.zip(sb).count(p => p._1 == p._2).toDouble / sa.size
      math.abs(est - j)
    }
    assert(errs.sum / errs.size <= 0.05, "mean |estimate − exact J| above bound")
    assert(errs.max <= 0.25, "worst-pair estimate error above bound")
  }

  test("q32 simhash: twins sit at small hamming distance, random pairs far away") {
    val sims = Dedup.simHash(plantedDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val twinHam = exactJ.keys.toSeq.map(i => ham(sims(i), sims(i + twinOff)))
    assert(twinHam.sum.toDouble / twinHam.size <= 10.0, "twin mean hamming above bound")
    assert(twinHam.max <= 20, "a twin pair exceeded the hamming ceiling")
    val rnd = new scala.util.Random(11)
    val ids = sims.keys.filter(_ < twinOff).toArray.sorted
    val rh = (1 to 20000).map { _ =>
      val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
      ham(sims(a), sims(b))
    }.filter(_ > 0)
    val randMean = rh.sum.toDouble / rh.size
    assert(randMean >= 14.0, f"random-pair mean hamming $randMean%.1f too small for separation")
  }
}
