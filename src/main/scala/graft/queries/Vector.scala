package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions._
import QueryDefs._

/** Similarity search over `embeddings` (north_star): brute-force cosine
  * top-k as the verified baseline, sign-LSH bucketing as the scale path.
  *
  * Scale posture: brute force is O(n²·dim) — correct but only viable as a
  * per-bucket kernel; the LSH variant shrinks candidate sets so the same
  * top-k kernel runs inside buckets (shuffle on bucket id, no driver
  * state). At 100 TB the bucketed plan is the only admissible one; the
  * brute-force query doubles as its correctness oracle at test scale.
  */
object Vector {

  /** Brute-force cosine top-5 neighbors per vector (DuckDB-verified).
    *
    * CORRECTNESS ORACLE ONLY — deliberately all-pairs O(n²·d); the scale
    * paths for production are q42 (sign-LSH), q45 (bucketed LSH) and q56
    * (IVF). Never route a large input through this kernel.
    *
    * Kernel shape for n² pairs: norms are computed ONCE as a scalar
    * column (n rows), so each pair costs one codegen'd DotProduct plus a
    * division — no per-pair array allocation and no interpreted
    * higher-order functions anywhere in the n² hot path.
    */
  val q33_cosine_topk: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d).select($"vec_id", toDouble($"embedding").as("v"))
    val n = e.select($"vec_id", $"v", l2Norm($"v").as("nrm"))
    // Spread the PROBE side across the cores by a_id before the
    // broadcast-NL join (r15, §2.5): the n-row scan arrives in 1-2
    // splits, so the n² dot sweep otherwise runs on 1-2 tasks (measured:
    // one 2.05 s single-task job = 95% of the query). Hashing on a_id
    // (vs round-robin) ALSO satisfies the top-k window's clustering, so
    // the n² pair rows never shuffle — only the n probe rows do.
    val p = s.sparkContext.defaultParallelism
    val a = n.select($"vec_id".as("a_id"), $"v".as("va"), $"nrm".as("na"))
      .repartition(p, $"a_id")
    val b = n.select($"vec_id".as("b_id"), $"v".as("vb"), $"nrm".as("nb"))
    val pairs = a.join(b, $"a_id" =!= $"b_id")
      .select($"a_id", $"b_id",
        (graft.functions.DotProduct($"va", $"vb") / ($"na" * $"nb")).as("cos"))
    pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy($"a_id").orderBy($"cos".desc, $"b_id")))
      .filter($"rn" <= 5)
      .select($"a_id", $"b_id".as("neighbor_id"), round($"cos", 6).as("cosine"), $"rn")
  }

  /** q34/q42/q56/q102's contract corpus: the fixture vectors plus a
    * deterministic near-twin (same perturbation rule as
    * [[plantedCorpus]]) of every FOURTH vector — a known-ground-truth
    * planted-NN subset (the twin is each planted vector's exact global
    * top-1: twin cosine ≈ 0.89–0.98 vs a ≤ ~0.6 background) at a 1.25×
    * corpus, so the contract queries keep their kernels' scale posture
    * instead of doubling the input. DuckDB replays the construction
    * exactly (`WHERE vec_id % 4 = 0` in the dup CTE).
    */
  private[graft] def contractCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("cast(embedding as array<double>)").as("v"))
    base.unionByName(base.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + lit(1000000000000000L)).as("vec_id"),
        expr("transform(v, (x, i) -> x + 0.25d * element_at(v, pmod(i + 1, size(v)) + 1))")
          .as("v")))
  }

  /** Sign-LSH bucketing (16 hyperplanes), oracled on its CONTRACT (the
    * q148 pattern — bucket ids are hash-seeded, so the histogram itself
    * is not SQL-expressible, but the properties that make the buckets
    * USEFUL are engine-checkable): (a) the buckets partition the corpus
    * (Σ bucket sizes = n); (b) planted near-twins collide ≥ 15% of the
    * time (sign-LSH theory at cos ≈ 0.97: (1 − θ/π)¹⁶ ≈ 0.27, measured
    * 0.25); (c) non-twin pairs collide ≤ 1% (measured ~2e-5) — computed
    * from the bucket histogram's Σ s(s−1)/2 MINUS the twin collisions,
    * so the separation check needs no pair sampling and no all-pairs
    * join. DuckDB replays the corpus counts and pins the booleans.
    */
  val q34_ann_lsh_buckets: Q = (s, d) => {
    import s.implicits._
    val b = contractCorpus(s, d)
      .select($"vec_id", lshBucket($"v", 16, 64).as("bucket"))
      .localCheckpoint(false) // the nc agg below materializes it (r16)
    // corpus + twin counts in one pass (r15 — was two count jobs)
    val nc = b.agg(count(lit(1)),
      sum(when($"vec_id" >= 1000000000000000L, 1L).otherwise(0L))).head()
    val n = nc.getLong(0)
    val nTwins = if (nc.isNullAt(1)) 0L else nc.getLong(1)
    // s(s−1) stays integral (÷2 after the sum — Spark's `/` is a
    // double division, and the contract needs exact longs)
    val hist = b.groupBy($"bucket").agg(count(lit(1)).as("sz"))
      .agg(sum($"sz").as("total"),
        (sum($"sz" * ($"sz" - lit(1L))) / lit(2L)).cast("long").as("same_pairs")).head()
    val twinColl = b.as("x").join(b.as("y"),
      col("x.vec_id") + lit(1000000000000000L) === col("y.vec_id") &&
        col("x.bucket") === col("y.bucket")).count()
    val nonTwinColl = hist.getLong(1) - twinColl
    val nonTwinPairs = n * (n - 1) / 2 - nTwins
    Seq((n, nTwins,
      hist.getLong(0) == n,
      nTwins == 0L || twinColl.toDouble / nTwins >= 0.15,
      nonTwinPairs == 0L || nonTwinColl.toDouble / nonTwinPairs <= 0.01))
      .toDF("n_corpus", "n_twins", "partition_ok", "twin_coll_ok", "sep_ok")
  }

  /** Bucketed sign-LSH ANN top-3, oracled on its recall/precision
    * CONTRACT (the q148 pattern): per-bucket cosine top-k runs at the
    * declared production params (8 planes, single table) over the
    * planted-NN corpus, then — because each planted vector's twin IS its
    * exact global top-1 — recall@3 and precision@1 are scored by a
    * LINEAR id-rule join against the planted subset, never all-pairs.
    * Floors sit under the measured values (recall@3 ≈ 0.5 — the
    * documented single-table collision bound, scale-free in n;
    * precision@1 ≈ 0.5+: within-bucket the kernel is exact). DuckDB
    * replays the corpus counts and pins both booleans; AnnRecallSpec
    * holds the same floors against the full exact kernel.
    */
  val q42_ann_topk: Q = (s, d) => {
    import s.implicits._
    val corpus = contractCorpus(s, d).localCheckpoint(false) // the nc agg below materializes it
    // corpus + twin counts in one pass (r16 — was two count jobs; same
    // longs, and the agg's full scan materializes the lazy checkpoint)
    val nc = corpus.agg(count(lit(1)),
      sum(when($"vec_id" >= 1000000000000000L, 1L).otherwise(0L))).head()
    val n = nc.getLong(0)
    val nTwins = if (nc.isNullAt(1)) 0L else nc.getLong(1)
    val ann = graft.operators.Similarity
      .annTopK(corpus, "vec_id", "v", k = 3, nPlanes = 8)
      .select($"a_id", $"neighbor_id", $"rn").localCheckpoint(false)
    // the three certificate counts fold into ONE pass over the
    // checkpointed candidates (r15: they were three sequential count
    // jobs — §1.2 fewer passes; conditional integer sums, same values)
    val planted = ($"a_id" >= 1000000000000000L) ||
      ($"a_id" % 4 === 0 && $"a_id" < 1000000000000000L)
    val certs = ann.agg(
      sum(when($"neighbor_id" === $"a_id" + 1000000000000000L, 1L)
        .otherwise(0L)).as("hits3"),
      sum(when($"rn" === 1 && planted, 1L).otherwise(0L)).as("answered1"),
      sum(when($"rn" === 1 &&
        ($"neighbor_id" === $"a_id" + 1000000000000000L ||
          $"neighbor_id" === $"a_id" - 1000000000000000L), 1L)
        .otherwise(0L)).as("hits1")).head()
    // recall@3 over planted true-NN pairs: (i, i+1e15) by id rule;
    // precision@1 over answered PLANTED queries (partner = exact top-1)
    val hits3 = Option(certs.get(0)).map(_ => certs.getLong(0)).getOrElse(0L)
    val answered1 = Option(certs.get(1)).map(_ => certs.getLong(1)).getOrElse(0L)
    val hits1 = Option(certs.get(2)).map(_ => certs.getLong(2)).getOrElse(0L)
    Seq((n, nTwins, 3L,
      nTwins == 0L || hits3.toDouble / nTwins >= 0.30,
      answered1 == 0L || hits1.toDouble / answered1 >= 0.35))
      .toDF("n_corpus", "n_twins", "k", "recall3_ok", "prec1_ok")
  }

  /** Embedding-cosine near-dup pairs at threshold 0.35 (fixture max
    * pairwise cosine is ~0.51, so the threshold yields a stable non-empty
    * candidate set), DuckDB-oracled against the all-pairs SQL — but
    * computed with the bucketed multi-table LSH candidate path
    * ([[graft.operators.Similarity.lshNearDupPairs]]), so the hash match
    * against the exhaustive oracle checks the LSH parameters. Those are
    * 2 planes and the tables for six-nines recall at the threshold (30):
    * a pair at cosine 0.35 escapes all of them with probability below 10⁻⁶, so
    * a fixture's ~290 qualifying pairs expect at most 3·10⁻⁴ misses
    * (16 tables expect ~0.15, and seeded fixtures showed such a miss).
    * The all-pairs kernel remains available as `embeddingNearDupPairs`
    * (spec oracle).
    */
  val q45_embedding_neardup: Q = (s, d) => {
    import graft.operators.Similarity
    Similarity
      .lshNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", 0.35,
        nPlanes = 2, nTables = Similarity.lshTables(2, 0.35, targetRecall = 0.999999))
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
  }

  /** The PRODUCTION near-dup rule, oracled: a tight threshold (0.95),
    * `lshParams`-derived plane/table counts (the rule users should run
    * at scale — q45's fixed loose-threshold tables are the documented
    * stress case), exact DuckDB all-pairs as the oracle. The fixture
    * embeddings have no tight pairs (max pairwise cosine ≈ 0.6), so the
    * corpus is the fixture UNION a deterministic near-duplicate of every
    * vector (`v'ᵢ = vᵢ + 0.25·v₍ᵢ₊₁ mod d₎`, cosine ≈ 0.89–0.98 vs the
    * original — straddling the threshold, so the cut itself is
    * exercised), built identically in both engines in double precision.
    * targetRecall is six nines because the gate is hash-exact: the
    * recall identity then makes a deterministic fixture miss
    * (seeded planes) a ~1e-3-expected event across all pairs, and the
    * committed result is verified green at sf0.001/0.01/0.1.
    */
  val q119_neardup_production: Q = (s, d) => {
    // lazy checkpoint + sizing count in one job (r16): the LSH chain then
    // reads the planted union from cache instead of rebuilding it
    val corpus = plantedCorpus(s, d).localCheckpoint(false)
    val (b, t) = graft.operators.Similarity.lshParams(
      corpus.count(), 0.95, targetRecall = 0.999999)
    graft.operators.Similarity
      .lshNearDupPairs(corpus, "vec_id", "v", 0.95, nPlanes = b, nTables = t)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
  }

  /** The full PRODUCTION dedup chain, oracled: q119's tight-threshold
    * LSH pair graph → connected components → cluster labels + sizes —
    * the pipeline a crawl-dedup user actually deploys (bucketed
    * candidates at θ≥0.95, never all-pairs, then the q90 CC machinery at
    * its union-find fast path). The DuckDB oracle replays the corpus
    * construction and runs min-label propagation as a recursive CTE
    * (components here are tiny, so the fixpoint is cheap).
    */
  val q120_neardup_cc_production: Q = (s, d) => {
    import s.implicits._
    // same lazy-checkpoint + sizing-count fusion as q119 (r16)
    val corpus = plantedCorpus(s, d).localCheckpoint(false)
    val (b, t) = graft.operators.Similarity.lshParams(
      corpus.count(), 0.95, targetRecall = 0.999999)
    val pairs = graft.operators.Similarity
      .lshNearDupPairs(corpus, "vec_id", "v", 0.95, nPlanes = b, nTables = t)
      .select($"a_id", $"b_id")
    graft.operators.Dedup.connectedComponents(pairs, "a_id", "b_id")
      .withColumn("csize", count(lit(1)).over(Window.partitionBy($"component")))
      .select($"id".as("vec_id"), $"component", $"csize")
  }

  /** Trained two-level IVF under the EXACTNESS gate: with exhaustive
    * probes every index vector is scanned, so the k-means-trained
    * quantizer ([[graft.operators.Similarity.trainCentroids]]) must
    * return exactly the brute-force top-3 — the DuckDB all-pairs oracle
    * checks the trained path end-to-end, centroid training included.
    * Like q33, the exhaustive sweep is a declared correctness-oracle
    * role, not a production plan (bounded probes are the scale path).
    */
  val q106_ivf_trained_topk: Q = (s, d) => {
    // the vec_id < 800 bound keeps the exhaustive sweep's pair cost flat
    // across fixture SFs while still exercising training + probing end
    // to end (sf0.01's 500 ids are all < 800 — the full table there)
    graft.operators.Similarity.ivfTopK2(
      Tables.embeddings(s, d).filter(col("vec_id") < 800),
      "vec_id", "embedding", k = 3,
      nCoarse = 8, nFinePerCell = 1000000, nProbeCoarse = 8,
      nProbeFine = 1000000, trainIters = 2)
      .select(col("a_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rn"))
  }

  /** IVF-flat ANN top-3, oracled on its recall CONTRACT (the q148
    * pattern — centroid assignment is hash-seeded, not SQL-expressible;
    * what matters is that bounded-probe search still finds the true
    * neighbors): the kernel runs at its declared production params
    * (auto cells = √(n·nProbe), nProbe = 4 — the round-11 Θ(n^1.5)
    * scale law, ScalePostureSpec-pinned) over the planted-NN corpus,
    * and twin recall@3 is scored by the linear id-rule join (measured
    * 0.99+, floor 0.90). DuckDB replays the corpus counts and pins the
    * boolean; AnnRecallSpec holds the floor against the exact kernel.
    */
  val q56_ivf_topk: Q = (s, d) => {
    import s.implicits._
    val corpus = contractCorpus(s, d).localCheckpoint(false) // the nc agg below materializes it
    // corpus + twin counts in one pass (r15 — was two count jobs); the
    // kernel's auto-cell rule gets the known count so it needn't recount
    val nc = corpus.agg(count(lit(1)),
      sum(when($"vec_id" >= 1000000000000000L, 1L).otherwise(0L))).head()
    val n = nc.getLong(0)
    val nTwins = if (nc.isNullAt(1)) 0L else nc.getLong(1)
    val ivf = graft.operators.Similarity
      .ivfTopK(corpus, "vec_id", "v", k = 3,
        nCells = graft.operators.Similarity.ivfAutoCells(n, 4), nProbe = 4)
    val hits3 = ivf.filter($"neighbor_id" === $"a_id" + 1000000000000000L).count()
    Seq((n, nTwins, 3L, nTwins == 0L || hits3.toDouble / nTwins >= 0.90))
      .toDF("n_corpus", "n_twins", "k", "recall_ok")
  }

  /** Near-dup clustering: connected components over the cosine ≥ 0.40
    * pair graph — the step that turns candidate PAIRS into dedup GROUPS
    * (keep `component` as the canonical id, drop the rest). Pairs come
    * from the bucketed LSH path; components from iterative min-label
    * propagation ([[graft.operators.Dedup.connectedComponents]]) — joins
    * and aggregates only, rounds = cluster diameter. DuckDB-oracled via a
    * recursive min-reachable-id CTE over the all-pairs cosine graph.
    */
  val q90_neardup_components: Q = (s, d) => {
    import s.implicits._
    val pairs = graft.operators.Similarity
      .lshNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", 0.40)
      .select($"a_id", $"b_id")
    graft.operators.Dedup.connectedComponents(pairs, "a_id", "b_id")
      .withColumn("csize", count(lit(1)).over(Window.partitionBy($"component")))
      .select($"id".as("vec_id"), $"component", $"csize")
  }

  /** Symmetric int8 quantization of the embedding column — the standard
    * storage/serving compression for vector corpora (scale = amax/127 per
    * vector, values rounded to [-127, 127]) — with reconstruction-error
    * stats. Pure per-row array expressions: one narrow scan, no shuffle,
    * no explode — the 100 TB shape for a per-vector transform. The
    * quantized checksums (q_sum/q_l1/n_sat) are exact integers, so the
    * oracle hash pins every quantized value, not just the error summary.
    */
  val q92_embedding_quantize: Q = (s, d) => {
    Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "v",
        "nullif(array_max(transform(v, x -> abs(x))) / 127.0, 0.0) AS scale",
        "array_max(transform(v, x -> abs(x))) AS amax")
      .selectExpr(
        "vec_id",
        "round(amax, 6) AS amax",
        "CAST(aggregate(v, 0L, (acc, x) -> acc + CAST(round(x / scale) AS LONG)) AS BIGINT) AS q_sum",
        "CAST(aggregate(v, 0L, (acc, x) -> acc + abs(CAST(round(x / scale) AS LONG))) AS BIGINT) AS q_l1",
        "CAST(aggregate(v, 0L, (acc, x) -> acc + CASE WHEN abs(CAST(round(x / scale) AS LONG)) >= 127 THEN 1L ELSE 0L END) AS BIGINT) AS n_sat",
        "round(sqrt(aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + pow(x - round(x / scale) * scale, 2)) / size(v)), 6) AS rmse")
  }

  /** Per-label centroid cohesion (north_star embedding analysis: cluster
    * quality of a labeled vector corpus): each label's centroid is the
    * per-dimension mean, then every vector's cosine to its own centroid
    * is aggregated to per-label cohesion stats. Plan: posexplode →
    * (label, dim) hash aggregate — the centroid shuffle scales with
    * labels×dim, not vectors — then the labels×dim centroid table
    * re-joins broadcast-sized, and the cosine runs as one codegen'd dot
    * per vector. No all-pairs anywhere.
    */
  val q97_label_centroids: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label", toDouble($"embedding").as("v"))
    val cent = e.select($"label", posexplode($"v").as(Seq("i", "x")))
      .groupBy($"label", $"i").agg(avg($"x").as("cx"))
      .groupBy($"label")
      .agg(expr("transform(array_sort(collect_list(struct(i, cx))), p -> p.cx)").as("cv"))
    e.join(broadcast(cent), "label")
      .select($"label",
        (graft.functions.DotProduct($"v", $"cv") / (l2Norm($"v") * l2Norm($"cv")))
          .as("cos_c"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        rate(avg($"cos_c")).as("avg_cos"),
        rate(min($"cos_c")).as("min_cos"),
        rate(max($"cos_c")).as("max_cos"))
  }

  /** Two-level IVF ANN top-3 ([[graft.operators.Similarity.ivfTopK2]] —
    * the beyond-256-cells scale path: coarse quantizer + per-cell fine
    * centroids as a distributed table), oracled on its recall CONTRACT
    * like q56: bounded probes (4 coarse / 8 fine) at the balanced auto
    * geometry (2·∛n / ∛n — Θ(n^4/3), ScalePostureSpec-pinned) over the
    * planted-NN corpus, twin recall@3 by the linear id-rule join
    * (measured 0.97+, floor 0.85). DuckDB replays the corpus counts and
    * pins the boolean; exhaustive-probe ≡ brute-force equivalence stays
    * spec-locked in CepSimilaritySpec.
    */
  val q102_ivf2_topk: Q = (s, d) => {
    import s.implicits._
    val corpus = contractCorpus(s, d).localCheckpoint(false) // the nc agg below materializes it
    // corpus + twin counts in one pass (r15 — was two count jobs); the
    // auto geometry gets the known count so the kernel needn't recount
    val nc = corpus.agg(count(lit(1)),
      sum(when($"vec_id" >= 1000000000000000L, 1L).otherwise(0L))).head()
    val n = nc.getLong(0)
    val nTwins = if (nc.isNullAt(1)) 0L else nc.getLong(1)
    val (autoC, autoF) = graft.operators.Similarity.ivf2AutoCells(n)
    val ivf2 = graft.operators.Similarity.ivfTopK2(
      corpus, "vec_id", "v", k = 3,
      nCoarse = autoC, nFinePerCell = autoF, nProbeCoarse = 4, nProbeFine = 8)
    val hits3 = ivf2.filter($"neighbor_id" === $"a_id" + 1000000000000000L).count()
    Seq((n, nTwins, 3L, nTwins == 0L || hits3.toDouble / nTwins >= 0.85))
      .toDF("n_corpus", "n_twins", "k", "recall_ok")
  }

  /** Embedding dimensionality of the fixture corpus. */
  private val Dim = 64

  /** Gram matrix X'X of the embedding corpus in long form ([U] the
    * standard whitening/PCA reduction of an embedding pipeline): ONE
    * mergeable aggregate carries the d(d+1)/2 upper-triangle sums
    * ([[graft.functions.GramAgg]] — map-side combine, embeddings never
    * shuffle, scale-independent output), then the packed row joins a
    * generated (i, j) index table to unpack. 1-based indices, matching
    * the DuckDB generate_subscripts oracle.
    */
  val q115_gram_matrix: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val packed = emb.agg(graft.functions.GramAgg.column($"embedding", Dim).as("g"))
    // unpack by exploding the single packed row against literal (i, j)
    // index arrays (the inverse of the kernel's row-major triangle
    // layout) — no join, so the 1×2080 unpack can't read as a cartesian
    val idx = for (i <- 1 to Dim; j <- i to Dim) yield (i, j)
    // DuckDB's round keeps the sign of a sum that rounds to zero
    // (-1.4e-5 → -0.0); Spark's gives 0.0, so 0.0 * v puts the sign back
    val r = round($"v", 4)
    packed.select(posexplode($"g").as(Seq("k", "v")))
      .select(element_at(typedLit(idx.map(_._1)), $"k" + 1).as("i"),
        element_at(typedLit(idx.map(_._2)), $"k" + 1).as("j"),
        when(r === 0.0, lit(0.0) * $"v").otherwise(r).as("g"))
  }

  /** Top-k principal components of the embedding corpus: the Gram
    * matrix reduces distributedly ([[graft.functions.GramAgg]], one
    * d(d+1)/2-double row — a bounded driver side-input like the IVF
    * centroid collects), then a deterministic cyclic-JACOBI eigen-solve
    * runs locally on the d×d problem — exact where power iteration
    * stalls on tight spectra (VectorTextSpec certifies the eigen
    * equation ||G·v − λv|| ≈ 0 and top-k-ness against the full
    * spectrum). Returns k unit rows, descending eigenvalue, each
    * sign-normalized so its largest-|coordinate| entry is positive.
    */
  def pcaTopComponents(df: org.apache.spark.sql.DataFrame, embCol: String,
      dim: Int, k: Int, iters: Int = 100): Array[Array[Double]] = {
    val packed = df.agg(graft.functions.GramAgg.column(col(embCol), dim))
      .head().getSeq[Double](0).toArray
    val g = Array.ofDim[Double](dim, dim)
    var idx = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) { g(i)(j) = packed(idx); g(j)(i) = packed(idx); idx += 1; j += 1 }
      i += 1
    }
    // cyclic Jacobi sweeps, rotations accumulated into vmat's COLUMNS
    val a = g.map(_.clone())
    val vmat = Array.tabulate(dim, dim)((r, c0) => if (r == c0) 1.0 else 0.0)
    val scale = math.max(1e-300, (0 until dim).map(x => math.abs(g(x)(x))).max)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-13 * scale && sweep < iters) {
      off = 0.0
      var p = 0
      while (p < dim) {
        var q = p + 1
        while (q < dim) {
          val apq = a(p)(q)
          if (math.abs(apq) > off) off = math.abs(apq)
          if (math.abs(apq) > 1e-300) {
            val theta = 0.5 * math.atan2(2 * apq, a(q)(q) - a(p)(p))
            val cth = math.cos(theta)
            val sth = math.sin(theta)
            var x = 0
            while (x < dim) {
              val (axp, axq) = (a(x)(p), a(x)(q))
              a(x)(p) = cth * axp - sth * axq
              a(x)(q) = sth * axp + cth * axq
              x += 1
            }
            x = 0
            while (x < dim) {
              val (apx, aqx) = (a(p)(x), a(q)(x))
              a(p)(x) = cth * apx - sth * aqx
              a(q)(x) = sth * apx + cth * aqx
              x += 1
            }
            x = 0
            while (x < dim) {
              val (vxp, vxq) = (vmat(x)(p), vmat(x)(q))
              vmat(x)(p) = cth * vxp - sth * vxq
              vmat(x)(q) = sth * vxp + cth * vxq
              x += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until dim).sortBy(c0 => -a(c0)(c0)).take(k)
    order.toArray.map { c0 =>
      val v = Array.tabulate(dim)(r => vmat(r)(c0))
      // deterministic sign: the largest-|coordinate| entry is positive
      val m0 = v.indices.maxBy(x => (math.abs(v(x)), -x))
      if (v(m0) < 0) v.map(-_) else v
    }
  }

  /** Embedding compression: project every vector onto the corpus's top-4
    * principal components ([U] the whitening/PCA reduction of an
    * embedding pipeline). The components come from the distributed Gram
    * reduction + local Jacobi eigensolve ([[pcaTopComponents]] —
    * deterministic); the projection itself is a per-row dot product with
    * 4 broadcast literal vectors — shuffle-free, codegen. The PROJECTION
    * surface stays golden-pinned in GoldenSpec (eigenvectors are not
    * DuckDB-expressible); the DECLARED query is the PCA CONTRACT (the
    * q148 pattern): corpus size and the MEAN squared norm (Gram trace
    * Σ‖v‖² / n — scale-free, so summation-order drift stays relative)
    * DuckDB recomputes from scratch, plus three in-engine
    * certificates every valid top-k eigenbasis satisfies — the
    * components are pairwise ORTHONORMAL (1e-6), the per-component
    * projection energies Σᵢ(vᵢ·u_c)² are NON-INCREASING in c (energy
    * equals the eigenvalue, and the solver sorts), and Bessel's
    * inequality holds: the 4 energies sum to ≤ total variance.
    */
  val q116_pca_project: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val comps = pcaTopComponents(emb, "embedding", Dim, k = 4)
    val orthoOk = (for {
      i <- comps.indices
      j <- i until comps.length
    } yield {
      val dv = comps(i).lazyZip(comps(j)).map(_ * _).sum
      math.abs(dv - (if (i == j) 1.0 else 0.0))
    }).max < 1e-6
    val vd = toDouble($"embedding")
    val energyCols = comps.toSeq.zipWithIndex.map { case (comp, c) =>
      sum(pow(dot(vd, typedLit(comp.toSeq)), 2)).as(s"e${c + 1}")
    }
    val aggs = Seq(sum(dot(vd, vd)).as("tv")) ++ energyCols
    val a = emb.agg(count(lit(1)).as("n"), aggs: _*).head()
    val energies = comps.indices.map(c => a.getDouble(2 + c))
    val orderOk = energies.sliding(2).forall {
      case Seq(x, y) => y <= x * (1 + 1e-6) + 1e-9
      case _ => true
    }
    val besselOk = energies.sum <= a.getDouble(1) * (1 + 1e-9) + 1e-9
    // surface the SCALE-FREE mean squared norm (trace / n), not the raw
    // corpus-sized trace: a full-corpus float sum grows with n while its
    // cross-engine summation-order drift grows with n·eps, so any fixed
    // decimal pin on the sum eventually flaps — the mean keeps the
    // drift ~relative (≪ the 0.005 quantum) at every scale
    val meanSqNorm = BigDecimal(a.getDouble(1) / a.getLong(0))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((a.getLong(0), Dim.toLong, meanSqNorm,
      orthoOk, orderOk, besselOk))
      .toDF("n_vecs", "dim", "mean_sq_norm", "ortho_ok", "energy_order_ok", "bessel_ok")
  }

  private[graft] val q116_kernel: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val comps = pcaTopComponents(emb, "embedding", Dim, k = 4)
    val projCols = comps.toSeq.zipWithIndex.map { case (comp, c) =>
      // rounded to 3 decimals so float-sum association drift cannot
      // move a pinned digit
      round(dot(toDouble($"embedding"), typedLit(comp.toSeq)), 3).as(s"p${c + 1}")
    }
    emb.select($"vec_id" +: projCols: _*)
  }

  /** SemDeDup semantic dedup ([[graft.operators.Similarity.semanticDedup]]
    * — cluster first, then near-dup only within cells so the pair work is
    * Σ_cells |cell|², the public SemDeDup scale recipe): auto-scaled
    * trained cells, keep-lowest-id at cosine ≥ 0.9. The KERNEL surface
    * (per-vector cell + keep flags — deterministic hash-seeded k-means,
    * not SQL-expressible) stays golden-pinned in GoldenSpec and the drop
    * rule is re-derived against the exact pair kernel in
    * CepSimilaritySpec; the DECLARED query is the dedup CONTRACT (the
    * q148 pattern): corpus size and the planted-twin pair count DuckDB
    * recomputes from scratch by the id rule, plus three in-engine
    * certificates — the output is a PARTITION of the corpus (every
    * vector exactly once), twin recall ≥ 0.80 (the fraction of ≥ 0.9
    * twin pairs whose top-2 probe-cell sets INTERSECT — SemDeDup's only
    * miss mode is a cluster boundary between near-identical vectors;
    * single-probe recall measured 0.92/0.93/0.88/0.58 at
    * sf0.001/0.01/0.1/10 as cells grew ∝ n, so the kernel probes top-2
    * cells (the IVF nProbe counter), lifting the measured rates to
    * 1.0/0.99/1.0/0.89; above the 256-cell hierarchy knee the
    * assignment probes 8 coarse groups + tieEps=0.02 escalation
    * (measured sf10 recall 0.826 → 0.863, see semanticDedup's doc), so
    * the floor tightened 0.75 → 0.80 per the r12 verdict;
    * it holds at every scale with margin and catches real regressions
    * like degenerate centroids or broken assignment), and survivor
    * self-consistency: NO two kept vectors sharing a probe cell at
    * ≥ 0.9 (re-verified with the exact kernel over kept×kept across
    * probe memberships).
    */
  val q128_semantic_dedup: Q = (s, d) => {
    import s.implicits._
    // lazy checkpoint + count fusions throughout (r16 §1.2): each
    // checkpoint's next operation is its own full-scan aggregate, which
    // materializes the blocks in the same job
    val corpus = plantedCorpus(s, d).localCheckpoint(false)
    val n = corpus.count()
    // same kernel call as q128_kernel, fed the checkpointed corpus so
    // the planted union isn't rebuilt for the certificate joins
    val res = graft.operators.Similarity.semanticDedup(
      corpus, "vec_id", "v",
      nCells = graft.operators.Similarity.semanticAutoCells(n),
      threshold = 0.9).localCheckpoint(false)
    // row + distinct-id counts in one pass (r15 — was two count jobs)
    val resAgg = res.agg(count(lit(1)), countDistinct($"vec_id")).head()
    val partitionOk = resAgg.getLong(0) == n && resAgg.getLong(1) == n
    val twinCand = corpus.filter($"vec_id" < 1000000000000000L)
      .select($"vec_id".as("a_id"), ($"vec_id" + 1000000000000000L).as("b_id"))
    val twins = graft.operators.Similarity
      .verifyPairs(corpus, "vec_id", "v", 0.9, twinCand)
      .select($"a_id", $"b_id").localCheckpoint(false)
    val nTwins = twins.count()
    val cells = res.select($"vec_id", array($"cell", $"cell2").as("pcs"), $"keep")
    // consumed exactly once (the overlap count) — no checkpoint needed
    val twinCells = twins
      .join(cells.select($"vec_id".as("a_id"), $"pcs".as("pa"), $"keep".as("ka")), "a_id")
      .join(cells.select($"vec_id".as("b_id"), $"pcs".as("pb"), $"keep".as("kb")), "b_id")
    val nSame = twinCells.filter(arrays_overlap($"pa", $"pb")).count()
    val recallOk = nTwins == 0L || nSame.toDouble / nTwins >= 0.80
    // kept×kept across shared probe cells, verified exact —
    // Σ|kept_cell|² over exploded probe memberships, never all-pairs;
    // vectors ride the probe rows INLINE (the kernel's own join shape —
    // re-attaching them to the candidate pairs afterwards was measured
    // 4× the whole kernel at sf10)
    val vd = graft.functions.VectorFunctions.toDouble($"v")
    val kept = corpus.join(res.filter($"keep").select($"vec_id", $"cell", $"cell2"), "vec_id")
      .select($"vec_id", $"v",
        graft.functions.VectorFunctions.l2Norm(vd).as("nrm"),
        explode(array_distinct(array($"cell", $"cell2"))).as("pc"))
    val viol = kept.select($"pc", $"vec_id".as("a_id"), $"v".as("va"), $"nrm".as("na"))
      .join(kept.select($"pc", $"vec_id".as("b_id"), $"v".as("vb"), $"nrm".as("nb")), "pc")
      .filter($"a_id" < $"b_id")
      .filter(graft.functions.DotProduct($"va", $"vb") / ($"na" * $"nb") >= 0.9)
    val cleanOk = viol.isEmpty
    Seq((n, nTwins, partitionOk, recallOk, cleanOk))
      .toDF("n_corpus", "n_twin_pairs", "partition_ok",
        "twin_recall_ok", "survivors_clean_ok")
  }

  private[graft] val q128_kernel: Q = (s, d) => {
    // nCells = 0 → cells ∝ n (SemDeDup's own scale posture): the sf10
    // probe measured the old fixed-8-cell form at 360× cost on 100× data
    graft.operators.Similarity.semanticDedup(
      plantedCorpus(s, d), "vec_id", "v",
      nCells = 0, threshold = 0.9)
  }

  /** The PRODUCTION-RECALL dedup chain, end-to-end and scale-safe —
    * q119/q120's corpus and threshold, but `lshParams` at its DEFAULT
    * deployment target (recall 0.99) instead of the six-nines
    * correctness-harness setting: ~3× fewer LSH tables, the parameter
    * rule a crawl-dedup user actually runs at 100 TB. With recall < 1
    * the pair SET is not hash-reproducible, so the oracled surface is
    * the recall CONTRACT itself: the chain's pairs are scored in-engine
    * against the planted-twin pair subset — a linear `(i, i+1M)`
    * id-rule join ([[graft.operators.Similarity.verifyPairs]]), never
    * all-pairs, so this query runs whole at ANY scale (the sf10 probe
    * times it end-to-end) — then connected components + keep-min-id
    * dedup run on the found graph and the kept count is checked against
    * the dedup budget the recall floor implies (kept ≤ n − twins + 1%
    * of twins). DuckDB replays the corpus construction and twin-pair
    * count exactly and pins both contract booleans TRUE; AnnRecallSpec
    * holds the same floor against the FULL exact pair kernel (and
    * precision = 1) at fixture scale.
    */
  val q148_neardup_recall99: Q = (s, d) => {
    import s.implicits._
    val corpus = plantedCorpus(s, d).localCheckpoint(false)
    val n = corpus.count() // full scan — materializes the lazy checkpoint
    val (b, t) = graft.operators.Similarity.lshParams(n, 0.95)
    val found = graft.operators.Similarity
      .lshNearDupPairs(corpus, "vec_id", "v", 0.95, nPlanes = b, nTables = t)
      .select($"a_id", $"b_id").localCheckpoint(true)
    // the known dup structure: candidate (i, i + 1e15) for every base id,
    // verified by exact cosine — the linear twin subset of the exact
    // pair graph (fixture corpora have no non-twin pairs at 0.95, but
    // nothing below depends on that)
    val twinCand = corpus.filter($"vec_id" < 1000000000000000L)
      .select($"vec_id".as("a_id"), ($"vec_id" + 1000000000000000L).as("b_id"))
    val twins = graft.operators.Similarity
      .verifyPairs(corpus, "vec_id", "v", 0.95, twinCand)
      .select($"a_id", $"b_id").localCheckpoint(false)
    val nTwins = twins.count()
    val nHits = twins.join(found, Seq("a_id", "b_id"), "left_semi").count()
    // dedup the found graph: one survivor per component (min id), plus
    // every never-paired vector; m missed twin pairs keep m extra rows.
    // node + component counts in one pass (r15 — was two jobs, each
    // re-running the union-find map on the small-graph path)
    val cc = graft.operators.Dedup.connectedComponents(found, "a_id", "b_id")
    val ccAgg = cc.agg(count(lit(1)), countDistinct($"component")).head()
    val nKept = n - ccAgg.getLong(0) + ccAgg.getLong(1)
    val budget = n - nTwins + math.ceil(0.01 * nTwins).toLong
    Seq((n, nTwins,
      nTwins == 0L || nHits.toDouble / nTwins >= 0.99,
      nKept <= budget))
      .toDF("n_corpus", "n_twin_pairs", "recall_ok", "kept_ok")
  }

  /** q119/q120/q128's shared planted-near-dup corpus: the fixture's raw
    * embeddings have no pairs above cosine 0.7 (they model DISTINCT
    * documents), so the dedup queries union a deterministic perturbed
    * copy (cos(v, twin) ≈ 0.97) — the corpus a crawl-dedup actually sees.
    */
  private[graft] def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("cast(embedding as array<double>)").as("v"))
    base.unionByName(base.select((col("vec_id") + lit(1000000000000000L)).as("vec_id"),
      expr("transform(v, (x, i) -> x + 0.25d * element_at(v, pmod(i + 1, size(v)) + 1))")
        .as("v")))
  }

  /** Eval-set decontamination by embedding similarity (north_star — the
    * "remove training docs too close to the benchmark" pass every
    * pre-training pipeline runs before a model ships): vectors with
    * vec_id < 200 stand in for the eval/benchmark set; every remaining
    * corpus vector reports its max cosine against that set and a
    * contaminated flag at 0.9. The eval side is SMALL BY NATURE, so it
    * rides the plan as a broadcast reference matrix inside ONE codegen
    * kernel ([[graft.functions.MaxCosineExpr]]) — the corpus side is a
    * single narrow scan, no join, no shuffle: the 100 TB decontamination
    * shape (the planted corpus adds twins of eval members, so both flag
    * outcomes occur). DuckDB-oracled by the exhaustive cross join.
    */
  val q136_eval_decontam: Q = (s, d) => {
    import s.implicits._
    val corpus = plantedCorpus(s, d)
    val eval = corpus.filter($"vec_id" < 200)
      .select($"v").collect().map(_.getSeq[Double](0).toArray)
    val norms = eval.map(v => math.sqrt(v.map(x => x * x).sum))
    corpus.filter($"vec_id" >= 200)
      .select($"vec_id",
        graft.functions.MaxCosineExpr($"v", eval, norms).as("mc"))
      .select($"vec_id", round($"mc", 6).as("max_cos"),
        ($"mc" >= 0.9).as("contaminated"))
  }

  val queries: Map[String, Q] = Map(
    "q136_eval_decontam" -> q136_eval_decontam,
    "q128_semantic_dedup" -> q128_semantic_dedup,
    "q116_pca_project" -> q116_pca_project,
    "q115_gram_matrix" -> q115_gram_matrix,
    "q97_label_centroids" -> q97_label_centroids,
    "q102_ivf2_topk" -> q102_ivf2_topk,
    "q92_embedding_quantize" -> q92_embedding_quantize,
    "q90_neardup_components" -> q90_neardup_components,
    "q56_ivf_topk" -> q56_ivf_topk,
    "q33_cosine_topk" -> q33_cosine_topk,
    "q34_ann_lsh_buckets" -> q34_ann_lsh_buckets,
    "q42_ann_topk" -> q42_ann_topk,
    "q45_embedding_neardup" -> q45_embedding_neardup,
    "q119_neardup_production" -> q119_neardup_production,
    "q120_neardup_cc_production" -> q120_neardup_cc_production,
    "q148_neardup_recall99" -> q148_neardup_recall99,
    "q106_ivf_trained_topk" -> q106_ivf_trained_topk,
  )

  // the four ANN-contract oracles share one corpus replay: DuckDB
  // re-derives the planted-twin counts exactly and pins the contract
  // booleans TRUE (the q148 pattern — the kernels are hash-seeded, the
  // CONTRACT is engine-independent)
  private val contractCorpusSql =
    """WITH base AS (SELECT vec_id FROM embeddings),
      |c AS (SELECT vec_id FROM base
      |      UNION ALL SELECT vec_id + 1000000000000000 FROM base WHERE vec_id % 4 = 0)""".stripMargin

  val oracle: Map[String, String] = Map(
    // q128/q116 contract oracles (the q148 pattern): DuckDB recomputes
    // the corpus-side counts from scratch (planted-twin pairs at ≥ 0.9
    // by the id rule; the Gram trace) and pins the in-engine
    // certificates TRUE
    "q128_semantic_dedup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dup AS (SELECT vec_id + 1000000000000000 AS vec_id,
        |               list_transform(range(1, len(v) + 1),
        |                              i -> v[i] + 0.25 * v[(i % len(v)) + 1]) AS v
        |        FROM base),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c),
        |tw AS (SELECT a.vec_id AS a_id
        |       FROM n a JOIN n b ON b.vec_id = a.vec_id + 1000000000000000
        |       WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9)
        |SELECT (SELECT count(*) FROM n) AS n_corpus,
        |       (SELECT count(*) FROM tw) AS n_twin_pairs,
        |       TRUE AS partition_ok, TRUE AS twin_recall_ok,
        |       TRUE AS survivors_clean_ok""".stripMargin,
    "q116_pca_project" ->
      """WITH x AS (SELECT CAST(UNNEST(embedding) AS DOUBLE) AS v FROM embeddings)
        |SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |       (SELECT CAST(max(len(embedding)) AS BIGINT) FROM embeddings) AS dim,
        |       round(sum(v * v) / (SELECT count(*) FROM embeddings), 2) AS mean_sq_norm,
        |       TRUE AS ortho_ok, TRUE AS energy_order_ok, TRUE AS bessel_ok
        |FROM x""".stripMargin,
    "q34_ann_lsh_buckets" ->
      s"""$contractCorpusSql
        |SELECT (SELECT count(*) FROM c) AS n_corpus,
        |       (SELECT count(*) FROM c WHERE vec_id >= 1000000000000000) AS n_twins,
        |       TRUE AS partition_ok, TRUE AS twin_coll_ok, TRUE AS sep_ok""".stripMargin,
    "q42_ann_topk" ->
      s"""$contractCorpusSql
        |SELECT (SELECT count(*) FROM c) AS n_corpus,
        |       (SELECT count(*) FROM c WHERE vec_id >= 1000000000000000) AS n_twins,
        |       CAST(3 AS BIGINT) AS k, TRUE AS recall3_ok, TRUE AS prec1_ok""".stripMargin,
    "q56_ivf_topk" ->
      s"""$contractCorpusSql
        |SELECT (SELECT count(*) FROM c) AS n_corpus,
        |       (SELECT count(*) FROM c WHERE vec_id >= 1000000000000000) AS n_twins,
        |       CAST(3 AS BIGINT) AS k, TRUE AS recall_ok""".stripMargin,
    "q102_ivf2_topk" ->
      s"""$contractCorpusSql
        |SELECT (SELECT count(*) FROM c) AS n_corpus,
        |       (SELECT count(*) FROM c WHERE vec_id >= 1000000000000000) AS n_twins,
        |       CAST(3 AS BIGINT) AS k, TRUE AS recall_ok""".stripMargin,
    "q148_neardup_recall99" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dup AS (SELECT vec_id + 1000000000000000 AS vec_id,
        |               list_transform(range(1, len(v) + 1),
        |                              i -> v[i] + 0.25 * v[(i % len(v)) + 1]) AS v
        |        FROM base),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c),
        |tw AS (SELECT a.vec_id AS a_id
        |       FROM n a JOIN n b ON b.vec_id = a.vec_id + 1000000000000000
        |       WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95)
        |SELECT (SELECT count(*) FROM n) AS n_corpus,
        |       (SELECT count(*) FROM tw) AS n_twin_pairs,
        |       TRUE AS recall_ok,
        |       TRUE AS kept_ok""".stripMargin,
    "q136_eval_decontam" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dup AS (SELECT vec_id + 1000000000000000 AS vec_id,
        |               list_transform(range(1, len(v) + 1),
        |                              i -> v[i] + 0.25 * v[(i % len(v)) + 1]) AS v
        |        FROM base),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c),
        |ev AS (SELECT * FROM n WHERE vec_id < 200),
        |tr AS (SELECT * FROM n WHERE vec_id >= 200),
        |m AS (SELECT tr.vec_id,
        |             max(list_dot_product(tr.v, ev.v) / (tr.nrm * ev.nrm)) AS mc
        |      FROM tr CROSS JOIN ev GROUP BY tr.vec_id)
        |SELECT vec_id, round(mc, 6) AS max_cos, mc >= 0.9 AS contaminated
        |FROM m""".stripMargin,
    "q115_gram_matrix" ->
      """WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |                  CAST(UNNEST(embedding) AS DOUBLE) AS v
        |           FROM embeddings)
        |SELECT a.i AS i, b.i AS j, round(sum(a.v * b.v), 4) AS g
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
        |GROUP BY 1, 2""".stripMargin,
    "q97_label_centroids" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT label, UNNEST(v) AS x, generate_subscripts(v, 1) AS i FROM e),
        |c AS (SELECT label, i, avg(x) AS cx FROM u GROUP BY 1, 2),
        |cent AS (SELECT label, list(cx ORDER BY i) AS cv FROM c GROUP BY 1),
        |j AS (SELECT e.vec_id, e.label,
        |             list_dot_product(e.v, cent.cv)
        |               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS cos_c
        |      FROM e JOIN cent USING (label))
        |SELECT label, count(*) AS n_vecs,
        |       round(avg(cos_c), 4) AS avg_cos,
        |       round(min(cos_c), 4) AS min_cos,
        |       round(max(cos_c), 4) AS max_cos
        |FROM j GROUP BY 1""".stripMargin,
    "q90_neardup_components" ->
      """WITH RECURSIVE e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e0),
        |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |          FROM n a JOIN n b ON a.vec_id < b.vec_id
        |          WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.40),
        |e AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM e) nn
        |                UNION
        |                SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |comp AS (SELECT u AS vec_id, min(v) AS component FROM reach GROUP BY u)
        |SELECT vec_id, component, count(*) OVER (PARTITION BY component) AS csize
        |FROM comp""".stripMargin,
    "q92_embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
        |sc AS (SELECT vec_id, v, amax, nullif(amax / 127.0, 0.0) AS scale FROM a)
        |SELECT vec_id,
        |       round(amax, 6) AS amax,
        |       CAST(list_sum(list_transform(v, x -> CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_sum,
        |       CAST(list_sum(list_transform(v, x -> abs(CAST(round(x / scale) AS BIGINT)))) AS BIGINT) AS q_l1,
        |       CAST(list_sum(list_transform(v, x -> CASE WHEN abs(CAST(round(x / scale) AS BIGINT)) >= 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_sat,
        |       round(sqrt(list_sum(list_transform(v, x -> pow(x - round(x / scale) * scale, 2))) / len(v)), 6) AS rmse
        |FROM sc""".stripMargin,
    "q120_neardup_cc_production" ->
      """WITH RECURSIVE base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dup AS (SELECT vec_id + 1000000000000000 AS vec_id,
        |               list_transform(range(1, len(v) + 1),
        |                              i -> v[i] + 0.25 * v[(i % len(v)) + 1]) AS v
        |        FROM base),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c),
        |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |          FROM n a JOIN n b ON a.vec_id < b.vec_id
        |          WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95),
        |e AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM e) nn
        |                UNION
        |                SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |comp AS (SELECT u AS vec_id, min(v) AS component FROM reach GROUP BY u)
        |SELECT vec_id, component, count(*) OVER (PARTITION BY component) AS csize
        |FROM comp""".stripMargin,
    "q119_neardup_production" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dup AS (SELECT vec_id + 1000000000000000 AS vec_id,
        |               list_transform(range(1, len(v) + 1),
        |                              i -> v[i] + 0.25 * v[(i % len(v)) + 1]) AS v
        |        FROM base),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95""".stripMargin,
    "q45_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35""".stripMargin,
    "q106_ivf_trained_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |           WHERE vec_id < 800),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        |r AS (SELECT a_id, b_id, cos,
        |             row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
        |      FROM p)
        |SELECT a_id, b_id AS neighbor_id, round(cos, 6) AS cosine, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 3""".stripMargin,
    "q33_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        |r AS (SELECT a_id, b_id, cos,
        |             row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
        |      FROM p)
        |SELECT a_id, b_id AS neighbor_id, round(cos, 6) AS cosine, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 5""".stripMargin,
  )
}
