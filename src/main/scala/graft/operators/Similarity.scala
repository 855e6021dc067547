package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{DotProduct, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column
  * (north_star "similarity search"): sign-LSH bucketing + per-bucket
  * brute-force cosine top-k.
  *
  * Scale shape: the all-pairs kernel (see queries.Vector.q33) is O(n²·d)
  * and only admissible as a correctness oracle; here candidates are
  * restricted to vectors sharing an LSH bucket, so work is
  * Σ_buckets |bucket|² — with b well-chosen planes, ≈ n²/2^b·skew. The
  * plan is: one narrow projection (id, bucket, normalized vec) → self-join
  * on bucket (hash shuffle on bucket id, no broadcast of the full table) →
  * codegen'd dot product → per-query top-k via WindowGroupLimit.
  * Recall is tunable with nPlanes (fewer planes = bigger buckets = higher
  * recall, more work) — the standard LSH trade.
  */
object Similarity {

  /** Width of the fixture embeddings; the sign-LSH paths' default. */
  val EmbeddingDim = 64

  /** Narrow (id, vec, norm) projection — norms once per row, codegen'd
    * dot per pair downstream; no interpreted HOFs in any n² path.
    */
  private def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = VectorFunctions.toDouble(col(vecCol))
    emb.select(col(idCol).as("a_id"), v.as("va"),
      VectorFunctions.l2Norm(v).as("na"))
  }

  private def cosCol = DotProduct(col("va"), col("vb")) / (col("na") * col("nb"))

  /** Deterministic centroid init shared by the IVF paths: the `nCells`
    * vectors with smallest xxhash64(id) — no RNG. Zero-norm vectors
    * can't anchor a cell (cos undefined; the kernel ranks NaN sims last,
    * but an all-zero centroid would still be a dead cell), so they're
    * excluded from the sample, not from the data. The collect is
    * O(nCells × dim) — a bounded broadcast-sized side input.
    */
  private def sampleCentroids(n: DataFrame, nCells: Int): Array[(Array[Double], Double)] =
    n.filter(col("na") > 0.0)
      .withColumn("__h", xxhash64(col("a_id")))
      .orderBy(col("__h")).limit(nCells)
      .select(col("va"), col("na")).collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))

  /** Offline k-means refinement of an IVF quantizer (Lloyd's with a
    * fixed iteration budget — the "k-means a sample offline and
    * broadcast" step the IVF scaladocs prescribe, as code): starting
    * from the deterministic hash sample, each round assigns every vector
    * to its nearest centroid (the codegen matrix kernel) and recomputes
    * centroids as per-cell means via a (cell, dim) aggregate — joins and
    * aggregates only; the sole driver-side object stays the bounded
    * nCells × dim centroid array (the same broadcast contract as the
    * init). A cell that loses all members, or whose mean degenerates to
    * zero norm, keeps its previous centroid (no dead cells). Determinism:
    * hash-seeded init + mean updates — same data, same centroids.
    *
    * Training-set cap (the 100 TB posture): Lloyd iterations must not
    * scan the corpus — above `sampleCap` rows the training set is a
    * deterministic hash-thinned sample (keep a_id where
    * xxhash64(a_id) mod ⌈n/cap⌉ = 0 — one cheap filter, no sort, no
    * RNG; E[kept] ≈ cap). Quantizer quality needs a sample, not the
    * population — the standard IVF training recipe — and downstream
    * EXACTNESS is unaffected where probes are exhaustive (q106's gate).
    * Below the cap (every test fixture) behavior is bit-identical to
    * the uncapped path, so pinned goldens stay pinned.
    */
  def trainCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int, sampleCap: Int = 1 << 14): Array[(Array[Double], Double)] = {
    // the sample, when thinning applies, gets its own small eager
    // checkpoint so the per-iteration scans stay sample-sized
    val (all, total) = graft.Materialize.scanned(withNorm(emb, idCol, vecCol)
      .filter(col("na") > 0.0).select(col("a_id"), col("va"), col("na")))(_.count())
    val n =
      if (total <= sampleCap) all // scanned once per iteration, not recomputed
      else {
        val sample = all.filter(pmod(xxhash64(col("a_id")), lit(total / sampleCap + 1)) === 0)
          .localCheckpoint(true)
        all.unpersist() // the eager sample no longer reads the full corpus
        sample
      }
    var cents = sampleCentroids(n, nCells)
    for (_ <- 0 until iters) {
      val assigned = n.withColumn("cell", element_at(
        graft.functions.CentroidTopKExpr(col("va"), cents.map(_._1), cents.map(_._2), 1), 1))
      // SPHERICAL k-means update (the cosine-geometry variant): average
      // UNIT vectors, or long vectors dominate the mean and drag the
      // centroid off the angular center of the cell
      val means = assigned
        .select(col("cell"), col("na"), posexplode(col("va")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x") / col("na")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), expr("transform(pm, p -> p.m)").as("mv"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .toMap
      cents = cents.indices.map { i =>
        means.get(i) match {
          case Some(v) =>
            val norm = math.sqrt(v.map(x => x * x).sum)
            if (norm > 0.0) (v, norm) else cents(i)
          case None => cents(i) // empty cell keeps its previous centroid
        }
      }.toArray
    }
    n.unpersist() // release the training sample's checkpointed blocks
    cents
  }

  /** Exact top-k neighbors (brute force) — the oracle kernel. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val b = n.select(col("a_id").as("b_id"), col("va").as("vb"), col("na").as("nb"))
    n.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), cosCol.as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id").as("neighbor_id"), col("cos"), col("rn"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    * method: cluster the corpus, then deduplicate only WITHIN clusters so
    * the quadratic pair work is bounded by Σ_cells |cell|² instead of
    * n²): k-means cells from [[trainCentroids]] (deterministic hash-seed
    * init, broadcast centroid array), one matrix-kernel assignment pass,
    * then probe-cell domination — a vector is dropped iff a LOWER-id
    * vector sharing any of its top-`nProbe` cells has cosine ≥
    * `threshold` (lowest id in each dominance chain survives;
    * deterministic, no RNG). Pairs sharing no probe cell are
    * deliberately not examined — that recall trade IS the method's
    * scale lever (raise nCells / lower nProbe for speed, the reverse
    * for recall; above the 256-cell knee assignment is hierarchical —
    * 8 coarse groups probed, more = closer to the flat-exact
    * assignment at O(√cells) extra dots, and any further coarse group
    * whose sim is within tieEps = 0.02 of the last fixed probe is ALSO
    * probed — boundary rows, exactly the ones the fixed probe count
    * loses, escalate automatically. The tieEps sweep in BASELINE.md
    * (round 13, "q128 adaptive hierarchical assignment") measured sf10
    * q128 twin recall 0.826 → 0.863 at ~1.29× the kernel (same-JVM
    * ABAB), which fixed both values). Returns one row
    * per input vector:
    * (idCol, cell, cell2, keep) — the top-2 probe cells and the
    * survival flag.
    */
  /** The cells ∝ n auto-scale rule of [[semanticDedup]] (nCells = 0),
    * exposed so a caller that already knows the corpus count can pass
    * the same cell count explicitly instead of paying a recount job.
    */
  def semanticAutoCells(n: Long): Int =
    if (n <= (1L << 12)) 8
    else math.max(8L, math.min(1L << 16, n / 64L)).toInt

  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, threshold: Double, trainIters: Int = 2,
      trainSampleCap: Int = 1 << 14, nProbe: Int = 2): DataFrame = {
    // nCells = 0 → cells ∝ n (target cell ≈ 64, clamped): Σ|cell|² stays
    // LINEAR as the corpus grows — the same auto-scale rule as ivfTopK,
    // and SemDeDup's own posture (cluster count grows with the corpus).
    // The sf10 probe measured the fixed-8-cell form at 360× cost on
    // 100× data (50k-vector cells → 10¹⁰ same-cell pairs). Below a ~4k
    // knee the Σ|cell|² term is tiny either way (≤ n²/8 ≈ 2M pairs) and
    // the k-means training scans dominate wall time, so cells hold at 8
    // there — cells ∝ n takes over above the knee, where it matters.
    val cells = if (nCells > 0) nCells else semanticAutoCells(emb.count())
    val cents = trainCentroids(emb, idCol, vecCol, cells, trainIters, trainSampleCap)
    // multi-probe assignment (the IVF nProbe counter to boundary loss —
    // a pair straddling one Voronoi boundary still meets in the other's
    // second-nearest cell): each vector belongs to its top-`nProbe`
    // cells for CANDIDATE generation; membership doubles, so the pair
    // work stays Σ|cell|²-shaped (≈4× at nProbe=2) and LINEAR under the
    // cells ∝ n rule. The sf10 probe measured single-probe twin recall
    // collapsing 0.93 → 0.58 as cells grew 8 → 6250; top-2 probing
    // restores the boundary pairs without touching the scale posture.
    val probes = math.max(1, math.min(nProbe, cells))
    // assignment: flat O(cells·d) per row below a knee; above it the
    // centroid array itself is clustered into √cells coarse groups
    // DRIVER-side (bounded local k-means) and the per-row search is the
    // hierarchical O(√cells·d) kernel probing the top-2 coarse groups —
    // with cells ∝ n the flat pass is the kernel's only n·cells term
    // (measured dominant at sf10), the hierarchy makes it n·√cells
    val assignExpr =
      if (cells <= 256)
        graft.functions.CentroidTopKExpr(col("va"), cents.map(_._1), cents.map(_._2), probes)
      else {
        val (coarse, cnorms, fineOf) =
          graft.functions.MatrixKernels.clusterCentroids(cents.map(_._1), cents.map(_._2))
        graft.functions.HierTopKExpr(col("va"), coarse, cnorms,
          cents.map(_._1), cents.map(_._2), fineOf,
          kCoarse = 8, k = probes, tieEps = 0.02)
      }
    val assigned = withNorm(emb, idCol, vecCol).withColumn("cells", assignExpr)
    val aExp = assigned.select(col("a_id"), col("va"), col("na"),
      explode(col("cells")).as("pc"))
    val bExp = aExp.select(col("pc").as("pc_b"), col("a_id").as("b_id"),
      col("va").as("vb"), col("na").as("nb"))
    // lower-id dominators across ANY shared probe cell; distinct BEFORE
    // the join back so a vector dominated by many neighbors (or the same
    // neighbor in both probe cells) still yields one row
    val dropped = aExp
      .join(bExp, col("pc") === col("pc_b") && col("b_id") < col("a_id"))
      .filter(cosCol >= threshold)
      .select(col("a_id")).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq("a_id"), "left")
      .select(col("a_id").as(idCol),
        element_at(col("cells"), 1).as("cell"),
        element_at(col("cells"), math.min(2, probes)).as("cell2"),
        coalesce(!col("__dropped"), lit(true)).as("keep"))
  }

  /** Embedding-cosine near-duplicate pairs (north_star dedup family #5):
    * all (a < b) pairs with cosine ≥ threshold. Exact all-pairs kernel —
    * the correctness oracle; at scale restrict candidates with the LSH
    * buckets of [[annTopK]] (same kernel inside buckets) and treat this
    * as the per-bucket verifier.
    */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val b = n.select(col("a_id").as("b_id"), col("va").as("vb"), col("na").as("nb"))
    n.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosCol.as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Bucketed near-duplicate pairs: multi-table sign-LSH candidate
    * generation → exact cosine verification. The scale path for
    * [[embeddingNearDupPairs]] (which stays as the per-bucket/spec oracle).
    *
    * Shape: each vector hashes into one bucket per table (`nTables`
    * families of `nPlanes` seeded hyperplanes); candidates are same-bucket
    * (table, bucket) pairs, dedup'd BEFORE vectors are re-attached, so the
    * exact-cosine verify runs once per distinct candidate pair. Work is
    * Σ_tables Σ_buckets |bucket|² candidate ids (narrow rows: two longs) +
    * one codegen'd dot per distinct pair — never all-pairs. Recall for
    * pairs at cosine θ is 1−(1−(1−θ/π)^nPlanes)^nTables: raise nTables
    * (or lower nPlanes) for recall, raise nPlanes for speed. The default
    * 16 tables of 2 planes miss a pair at cosine 0.35 with probability
    * about 5·10⁻⁴, so a caller that must find every pair sizes the
    * tables with [[lshTables]] (real near-dup thresholds ≥0.9 need far
    * fewer tables than the fixture's loose 0.35).
    */
  def lshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 2, nTables: Int = 16,
      dim: Int = EmbeddingDim): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    // TWO candidate-generation regimes, split by geometry (key space =
    // nTables·2^nPlanes vs the core count):
    //
    //  - FEW-HUGE-BUCKETS regime (key space ≤ 4× cores — the loose-
    //    threshold oracle/stress geometries): the same-bucket self-join
    //    EXPLODES (Σ|bucket|² ≈ 8.0M candidate rows from a 32k-row index
    //    at nPlanes=2, 4× table-duplicated) and AQE coalesces the
    //    byte-tiny exchange to ONE task. Here each index row carries its
    //    vector's full bucket array and a codegen int-loop predicate
    //    emits a colliding pair only from its FIRST colliding table —
    //    candidates are distinct BY CONSTRUCTION (no dedup exchange) —
    //    and the join's key distribution is pinned to
    //    min(cores, keySpace) so the sweep parallelizes. Measured:
    //    q45 3.56 → 0.99 s, q90 3.86 → 1.23 s.
    //
    //  - PRODUCTION regime (key space ≫ cores — lshParams targets ~8-id
    //    buckets; tight thresholds drive nTables into the tens): index
    //    rows stay the NARROW (id, table, bucket) shape and duplicates
    //    dedup in a distinct. Carrying the bucket array here is a SCALE
    //    DEFECT, not a win: payload grows n·nTables² (at q119's
    //    six-nines geometry — 68 tables at sf10 — the array-carrying
    //    join sort spilled the disk at 100×, and q148's wall ratio blew
    //    from ~13× to 85×), while the duplication the distinct removes
    //    is small by construction (≈ +1 extra table collision per true
    //    pair). The sf10 probe (`tmp/probe_r15opt_sf10.json` predecessor
    //    run) is the pin for this gate.
    val keySpace = nTables.toLong << math.min(nPlanes, 24)
    val cores = emb.sparkSession.sparkContext.defaultParallelism.toLong
    val candidates =
      if (keySpace <= 4L * cores) {
        val buckets = n
          .select(col("a_id"),
            graft.functions.LshBucketsExpr(col("va"), nPlanes, dim, nTables).as("bs"))
          .select(col("a_id"), col("bs"),
            posexplode(col("bs")).as(Seq("table", "bucket")))
          .repartition(math.max(1L, math.min(cores, keySpace)).toInt,
            col("table"), col("bucket"))
        val bb = buckets.select(col("a_id").as("b_id"), col("bs").as("bsb"),
          col("table").as("tb"), col("bucket").as("bucket_b"))
        // emitted iff NO earlier table already collides (codegen int
        // loop — the lambda-chain form allocated 3 arrays per evaluation)
        val firstHit = graft.functions.NoEarlierCollisionExpr(
          col("bs"), col("bsb"), col("table"))
        buckets
          .join(bb, col("table") === col("tb") && col("bucket") === col("bucket_b") &&
            col("a_id") < col("b_id"))
          .filter(firstHit)
          .select(col("a_id"), col("b_id"))
      } else {
        // narrow index rows, one per table per vector; all nTables×nPlanes
        // plane dots in ONE matrix-kernel call per row (posexplode index =
        // table, matching the historical seeded order)
        val buckets = n.select(col("a_id"),
          posexplode(graft.functions.LshBucketsExpr(col("va"), nPlanes, dim, nTables))
            .as(Seq("table", "bucket")))
        val bb = buckets.select(col("a_id").as("b_id"), col("table").as("tb"),
          col("bucket").as("bucket_b"))
        buckets
          .join(bb, col("table") === col("tb") && col("bucket") === col("bucket_b") &&
            col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"))
          .distinct()
      }
    // re-attach vectors and verify exactly — one dot per distinct pair
    verifyPairs(emb, idCol, vecCol, threshold, candidates)
  }

  /** Exact-cosine verification of an explicit candidate pair set
    * (columns `a_id`, `b_id` over `idCol` values): re-attach vectors,
    * one codegen'd dot per pair, keep pairs at cosine ≥ `threshold`.
    * The shared tail of every candidate-generation strategy — LSH
    * buckets ([[lshNearDupPairs]]), IVF cells, or KNOWN structure (e.g.
    * a planted-twin id rule) — linear in |candidates|, never all-pairs.
    */
  def verifyPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, candidates: DataFrame): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val bn = n.select(col("a_id").as("b_id"), col("va").as("vb"), col("na").as("nb"))
    candidates.select(col("a_id"), col("b_id"))
      .join(n, "a_id").join(bn, "b_id")
      .select(col("a_id"), col("b_id"), cosCol.as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Sign-LSH parameter rule from the public recall identity
    * P[pair at cosine θ shares a bucket in ≥1 of T tables of b planes]
    * = 1 − (1 − p^b)^T with p = 1 − acos(θ)/π:
    * b = ⌈log2(n / targetBucket)⌉ bounds expected bucket size (candidate
    * work per table ≈ Σ|bucket|² ≈ n·targetBucket), then T is the
    * smallest table count reaching `targetRecall` for pairs at
    * `threshold`. Loose thresholds (the fixture's 0.35) drive T into the
    * hundreds — sign-LSH genuinely cannot prune wide angles, which is
    * why the sf1 scale record in BASELINE.md demonstrates the bucketed
    * path at a realistic ≥0.9 near-dup threshold instead.
    */
  def lshParams(n: Long, threshold: Double, targetRecall: Double = 0.99,
      targetBucket: Int = 8): (Int, Int) = {
    // targetBucket drives the verify-join volume: random (non-dup) pairs
    // collide per table at ~bucket/n odds, so candidates ≈ n·bucket/2·T.
    // Each extra plane halves bucket (and candidates) while T grows only
    // by the 1/p^b log-factor (p > 0.5 at any positive threshold), so
    // small buckets strictly win until index rows (n·T) dominate —
    // bucket ≈ 8 is the knee: the sf10 probe measured the old 64 default
    // shipping 5.5× the candidate volume into the exact-cosine verify.

    val b = math.max(1, math.ceil(math.log(n.toDouble / targetBucket) / math.log(2)).toInt)
    (b, lshTables(b, threshold, targetRecall))
  }

  /** The smallest table count T of `nPlanes`-plane sign-LSH tables with
    * 1 − (1 − p^nPlanes)^T ≥ `targetRecall` for pairs at cosine
    * `threshold`, p = 1 − acos(θ)/π (the recall identity of [[lshParams]]).
    */
  def lshTables(nPlanes: Int, threshold: Double, targetRecall: Double): Int = {
    val perTable = math.pow(1.0 - math.acos(threshold) / math.Pi, nPlanes)
    math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-perTable)).toInt)
  }

  /** IVF(-flat) ANN top-k — the inverted-file alternative to sign-LSH
    * bucketing: vectors are assigned to their nearest of `nCells`
    * centroids (one cell each); each QUERY probes its `nProbe` nearest
    * cells, and exact cosine top-k runs inside the probed cells only.
    *
    * Centroids are a deterministic data sample (the `nCells` vectors with
    * smallest xxhash64(id) — no RNG, no k-means iterations; at 100 TB
    * you'd k-means a sample offline and broadcast, which is exactly the
    * shape here: the centroid collect is O(nCells × dim), a bounded
    * broadcast-sized side input, not a data collect). Assignment is a
    * per-row argmax over codegen'd centroid dots; the only shuffle is the
    * (cell) equi-join. Work ≈ nProbe × n²/nCells vs n² brute — the
    * recall/cost trade is nProbe (and cell count), the standard IVF knobs.
    */
  /** The flat path's auto cell count (see [[ivfTopK]]): n/64 below the
    * crossover (n = 1024·nProbe, where both formulas agree), balanced
    * √(n·nProbe) above — spec-pinned in ScalePostureSpec.
    */
  private[graft] def ivfAutoCells(n: Long, nProbe: Int): Int = {
    val balanced = math.ceil(math.sqrt(n.toDouble * nProbe)).toLong
    math.max(32L, math.min(n / 64L, balanced)).toInt
  }

  /** The two-level path's auto geometry (see [[ivfTopK2]]):
    * (round(2·∛n), round(∛n)) — spec-pinned in ScalePostureSpec.
    */
  private[graft] def ivf2AutoCells(n: Long): (Int, Int) = {
    val cbrt = math.cbrt(n.toDouble)
    (math.max(2, math.round(2.0 * cbrt).toInt), math.max(2, math.round(cbrt).toInt))
  }

  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int = 32, nProbe: Int = 4): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    // nCells <= 0 → auto-scale with the table. Two regimes, continuous
    // at their crossover (n = 1024·nProbe — 16384 at the default):
    //  - small n: n/64 (target-64 cells, min 32 — fixture-scale behavior
    //    identical, golden-pinned results);
    //  - large n: √(n·nProbe), single-level IVF's BALANCED point — the
    //    per-row assignment fan-out (cells centroid dots) equals the
    //    per-query probe scan (nProbe·n/cells dots), total work Θ(n^1.5):
    //    the textbook IVF-flat law. The old hard 256 cap froze cells
    //    while the table grew — the sf10 probe measured 72.8× at 100×
    //    data (probe scans ∝ n²/256); √(n·nProbe) re-measures ~n^1.5.
    // Beyond single-level economics, [[ivfTopK2]]: the two-level
    // coarse-quantizer assignment whose fine centroids stay a
    // distributed table.
    val cells = if (nCells > 0) nCells else ivfAutoCells(emb.count(), nProbe)
    val cents = sampleCentroids(n, cells)
    // top-nProbe cell indices in ONE matrix-kernel call per row: all
    // centroid dots in a compiled loop (the per-centroid literal-dot
    // composition generated one inlined loop per centroid and collapsed
    // to interpreted eval past ~32 cells — see MatrixKernels scaladoc;
    // ranking by dot/|c| is the cosine ranking, |v| being constant per row)
    require(nProbe >= 1 && nProbe <= cents.length)
    val assigned = n.withColumn("__cells",
      graft.functions.CentroidTopKExpr(col("va"), cents.map(_._1), cents.map(_._2), nProbe))
    // index side: every vector lives in exactly its nearest cell
    val index = assigned.select(col("a_id").as("b_id"), col("va").as("vb"),
      col("na").as("nb"), element_at(col("__cells"), 1).as("cell"))
    // query side: probe the nProbe nearest cells
    val queries = assigned.select(col("a_id"), col("va"), col("na"),
      explode(col("__cells")).as("cell"))
    queries.join(index, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("cell"), col("b_id"), cosCol.as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id").as("neighbor_id"), col("cos"), col("rn"))
  }

  /** Two-level IVF top-k — the beyond-the-cap design [[ivfTopK]]
    * documents, as code: a small coarse quantizer (nCoarse hash-sampled
    * centroids, the only driver-side collect — bounded, same contract as
    * the flat path) routes every vector to a coarse cell, and each
    * coarse cell's fine centroids (its `nFinePerCell` members with the
    * smallest id-hash, picked by a per-cell window rank) stay a
    * DISTRIBUTED table: fine assignment and probing are equi-joins on
    * the coarse key + `max_by`/rank aggregates. Total centroid count is
    * nCoarse × nFinePerCell — thousands of cells with no driver matrix
    * and no codegen blowup, which is exactly what the flat path's
    * balanced-cell rule exists to avoid paying in assignment fan-out.
    *
    * nCoarse ≤ 0 / nFinePerCell ≤ 0 → auto-scale at the two-level
    * balanced point `nCoarse = round(2·∛n)`, `nFinePerCell = round(∛n)`:
    * fine cells number ~2·n^⅔, so a probed fine cell holds ~n^⅓/2
    * vectors and every per-query term (coarse fan-out, fine ranking,
    * candidate scan) is Θ(n^⅓) — total work Θ(n^4/3), the two-level IVF
    * law. Fixed small cell counts freeze the geometry while the table
    * grows (probe scans become ∝ n²/cells — the same defect the sf10
    * probe measured on the flat path's old 256 cap).
    *
    * Probing: a query ranks its nProbeCoarse nearest coarse cells
    * (matrix kernel), then within those the nProbeFine nearest fine
    * centroids (equi-join + rank), and exact cosine top-k runs inside
    * the probed fine cells only. With exhaustive probes the result
    * equals brute force (spec-locked); bounded probes trade recall for
    * candidate count like any IVF.
    */
  def ivfTopK2(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCoarse: Int = 32, nFinePerCell: Int = 16,
      nProbeCoarse: Int = 4, nProbeFine: Int = 4,
      trainIters: Int = 0): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val (coarseN, finePerCell) =
      if (nCoarse > 0 && nFinePerCell > 0) (nCoarse, nFinePerCell)
      else {
        val (autoC, autoF) = ivf2AutoCells(emb.count())
        (if (nCoarse > 0) nCoarse else autoC,
         if (nFinePerCell > 0) nFinePerCell else autoF)
      }
    // trainIters > 0 refines the coarse quantizer with offline k-means
    // ([[trainCentroids]]) — better-balanced cells raise recall at the
    // same probe budget; 0 keeps the deterministic hash sample
    val cents =
      if (trainIters > 0) trainCentroids(emb, idCol, vecCol, coarseN, trainIters)
      else sampleCentroids(n, coarseN)
    require(nProbeCoarse >= 1 && nProbeCoarse <= cents.length)
    val assigned = n.withColumn("__cc",
      graft.functions.CentroidTopKExpr(col("va"), cents.map(_._1), cents.map(_._2),
        nProbeCoarse))
    val home = assigned.withColumn("coarse", element_at(col("__cc"), 1))
    // fine centroids: per coarse cell, the nFinePerCell members with the
    // smallest id-hash — a window rank, never a collect
    val fineCents = home.filter(col("na") > 0.0)
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("coarse")).orderBy(xxhash64(col("a_id")), col("a_id"))))
      .filter(col("__r") <= finePerCell)
      .select(col("coarse"), col("__r").as("fine"),
        col("va").as("fv"), col("na").as("fn"))
    def fineSim = DotProduct(col("va"), col("fv")) / col("fn") // |v| constant per row
    // index side: each vector lands in its nearest fine cell within its
    // own coarse cell (equi-join fan-out ≤ nFinePerCell, then max_by)
    val index = home.join(fineCents, "coarse")
      .groupBy(col("a_id"))
      .agg(max_by(struct(col("coarse"), col("fine")), fineSim).as("__f"),
        first(col("va")).as("va"), first(col("na")).as("na"))
      .select(col("a_id").as("b_id"), col("va").as("vb"), col("na").as("nb"),
        col("__f.coarse").as("coarse"), col("__f.fine").as("fine"))
    // query side: nProbeFine nearest fine cells across the probed coarse
    val probes = assigned.select(col("a_id"), col("va"), col("na"),
        explode(col("__cc")).as("coarse"))
      .join(fineCents, "coarse")
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("a_id")).orderBy(fineSim.desc, col("coarse"), col("fine"))))
      .filter(col("__pr") <= nProbeFine)
      .select(col("a_id"), col("va"), col("na"), col("coarse"), col("fine"))
    // every index vector lives in exactly one fine cell and probes are
    // distinct cells, so a candidate pair appears at most once — no
    // dedup shuffle needed before the rank
    probes.join(index, Seq("coarse", "fine"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), cosCol.as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id").as("neighbor_id"), col("cos"), col("rn"))
  }

  /** ANN top-k within LSH buckets. Same output shape as bruteForceTopK;
    * vectors alone in their bucket yield no rows (document: raise recall
    * by lowering nPlanes or multi-probing).
    */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 16, dim: Int = EmbeddingDim): DataFrame = {
    // buckets on RAW vectors (sign-LSH is scale-invariant) with the
    // codegen'd per-plane dot — no normalization pass, no plan barrier
    val n = withNorm(emb, idCol, vecCol)
      .withColumn("bucket", VectorFunctions.lshBucket(col("va"), nPlanes, dim))
    val b = n.select(col("a_id").as("b_id"), col("va").as("vb"), col("na").as("nb"),
      col("bucket").as("bucket_b"))
    n.join(b, col("bucket") === col("bucket_b") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("bucket"), col("b_id"), cosCol.as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("bucket"), col("b_id").as("neighbor_id"), col("cos"), col("rn"))
  }
}
