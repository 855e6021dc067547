package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for the LLM-pipeline surface (north_star):
  * exact, MinHash+LSH near-dup, SimHash. All are pure DataFrame plans —
  * shuffles only on hash keys, state bounded per key, no driver-side
  * collection — so they scale linearly with executors at 100 TB.
  *
  * Reference anchor for streaming dedup semantics: [U] flink-table-runtime
  * operators/deduplicate/; the near-dup family is the standard
  * MinHash/SimHash construction (Broder; Charikar) as used by large-scale
  * corpus pipelines.
  */
object Dedup {

  /** Exact dedup on `cols`: one surviving row id (min of `idCol`) per
    * distinct key, plus the duplicate count. A single hash aggregate.
    */
  def exact(df: DataFrame, cols: Seq[String], idCol: String): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The exact-dedup key of a document: md5(text), so a shuffle or a
    * store carries a 32-byte digest, never the document (q27).
    */
  def textKey(text: Column): Column = md5(text)

  /** The curation exact-dedup rule: the surviving `doc_id`s, the min one
    * per identical `text` ([[textKey]]).
    */
  def keepMinIdPerText(docs: DataFrame): DataFrame =
    docs.groupBy(textKey(col("text")).as("__h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  /** Per-document MinHash signature: array of `numHashes` min-hashes over
    * distinct word `shingleLen`-shingles. Seeded re-hashing via
    * xxhash64(shingle, seed) — deterministic, no RNG.
    *
    * Plan shape: explode(shingles) × seeds → groupBy(doc, seed) min →
    * regroup to a signature array. Two hash aggregates, both on keys that
    * scale with data; the signature array is fixed-size state per doc.
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      shingleLen: Int = 3): DataFrame = {
    // one aggregate with numHashes min(xxhash64(shingle, seed)) columns:
    // rows explode only by shingle (not shingle × seed), so the shuffle is
    // numHashes× smaller than the naive two-level formulation; shingles
    // come from the codegen'd exploded path (min is duplicate-insensitive,
    // so the distinct pass is skipped). The shingle's bytes hash ONCE per
    // row (__h0) and each seed is one long-step on top — bit-identical to
    // xxhash64(shingle, i), numHashes× less string hashing
    // ([[graft.functions.SeededXxHashInt]], r15)
    val shingled = TextFunctions
      .explodedWordShingles(df, Seq(idCol), textCol, shingleLen, distinctShingles = false)
      .withColumnRenamed("shingle", "__s")
      .withColumn("__h0", xxhash64(col("__s")))
    val minCols = (0 until numHashes).map(i =>
      min(graft.functions.SeededXxHashInt(col("__h0"), i)).as(s"__mh$i"))
    shingled
      .groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"__mh$i")): _*).as("signature"))
  }

  /** LSH banding over MinHash signatures: hash `rowsPerBand`-sized slices
    * of the signature; docs sharing any band hash are near-dup candidates.
    * Returns (id, band, band_key).
    */
  def minHashBands(signatures: DataFrame, idCol: String, bands: Int): DataFrame = {
    signatures
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key",
        xxhash64(col("__band"),
          slice(col("signature"),
            col("__band") * (size(col("signature")) / bands) + 1,
            size(col("signature")) / bands)))
      .select(col(idCol), col("__band").as("band"), col("band_key"))
  }

  /** Candidate near-dup pairs from LSH buckets (id_a < id_b, distinct). */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3): DataFrame = {
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, shingleLen)
    val banded = minHashBands(sigs, idCol, bands)
    val a = banded.select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val b = banded.select(col("band").as("band_b"), col("band_key").as("key_b"),
      col(idCol).as("id_b"))
    a.join(b, col("band") === col("band_b") && col("band_key") === col("key_b") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact-substring dedup, the suffix-array-class pass of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better"):
    * every maximal token span of length ≥ `n` whose text occurs
    * elsewhere in the corpus is flagged, EXCEPT the corpus-wide first
    * occurrence of each substring (keep-one, min-(doc_id, position)
    * domination — the paper removes all-but-one copy). Returns the
    * maximal duplicated spans as (doc_id, s, e) TOKEN ranges
    * (0-based, inclusive).
    *
    * Spark-native shape instead of a suffix array: rolling stride-1
    * `n`-token shingles are content-hashed (the q124 span machinery
    * generalized from fixed tiles to every offset); a shingle
    * occurrence that is not its hash's first occurrence marks tokens
    * [i, i+n−1] duplicated; adjacent/overlapping marked shingles merge
    * into maximal spans per document (gaps-and-islands — a new span
    * starts when the next duplicated offset leaves uncovered tokens).
    * Any duplicated substring of length L ≥ n is the union of its
    * L−n+1 rolling shingles, so the merged spans are exactly the
    * maximal duplicated regions — the suffix-array result at n-token
    * resolution.
    *
    * 100 TB shape: the big shuffle keys on the 32-byte shingle digest
    * (never the text), materialized ONCE — the first-occurrence
    * min-struct aggregate and the join probe read the same exchange
    * (AQE stage-level reuse; r15 measured the old two-subtree form
    * tokenizing + digesting the corpus twice, 2.8 → 1.4 s at sf0.1);
    * the island merge is one per-document window sort (state bounded
    * by document length). Never all-pairs.
    */
  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, "minimum duplicated-substring length n must be >= 2")
    // one explicit digest-keyed exchange feeds BOTH the first-occurrence
    // aggregate and the join probe (ReusedExchange): the tokenize +
    // per-offset digest pass runs ONCE instead of once per consumer, and
    // the join adds no second shuffle (§2.4 "two operations keyed the
    // same way can share one exchange"). Trade: the aggregate loses its
    // map-side combine — duplicate digests are rare per map task in a
    // real crawl, so the saved corpus re-scan dominates the few extra
    // shuffled rows at every scale. Rows out are identical.
    // the explicit isNotNull mirrors what the join infers on its probe
    // side — without it the two Exchange subtrees differ by that one
    // pushed predicate and cannot unify (ids are declared non-null, so
    // rows out are unchanged)
    val sp = df
      .selectExpr(s"$idCol AS doc_id",
        s"regexp_extract_all($textCol, '\\\\S+', 0) AS tk")
      .filter(size(col("tk")) >= n && col("doc_id").isNotNull)
      .selectExpr("doc_id", "tk",
        s"explode(sequence(0, size(tk) - $n)) AS i")
      .selectExpr("doc_id", "CAST(i AS BIGINT) AS i",
        s"md5(concat_ws(' ', slice(tk, CAST(i + 1 AS INT), $n))) AS h")
      .repartition(col("h"))
    val first = sp.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("i"))).as("f"))
    val dup = sp.join(first, "h")
      .filter(!(col("doc_id") === col("f.doc_id") && col("i") === col("f.i")))
      .select(col("doc_id"), col("i"))
    // gaps-and-islands over duplicated offsets: offsets i_prev and i
    // cover contiguous tokens iff i <= i_prev + n, so a NEW island
    // starts when i - i_prev > n
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    dup
      .withColumn("__brk",
        when(coalesce(col("i") - lag(col("i"), 1).over(w),
          lit(n.toLong + 1L)) > n, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("i")).as("s"), (max(col("i")) + (n - 1)).as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** Per-document exact-substring dedup report over
    * [[exactSubstringSpans]]: token count, maximal duplicated span
    * count, duplicated-token total, and the surviving token count —
    * the numbers a curation pass publishes before cutting the spans
    * out. Every document reports (zero spans for clean or sub-n docs).
    */
  def exactSubstringStats(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = df.selectExpr(s"$idCol AS doc_id",
      s"CAST(size(regexp_extract_all($textCol, '\\\\S+', 0)) AS BIGINT) AS n_tokens")
    val agg = exactSubstringSpans(df, idCol, textCol, n)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("n_dup_tokens"))
    toks.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        (col("n_tokens") - coalesce(col("n_dup_tokens"), lit(0L)))
          .as("n_kept_tokens"))
  }

  /** Cut the duplicated spans OUT — the text-producing half of the Lee
    * et al. pass: every document's tokens outside its
    * [[exactSubstringSpans]] ranges, rejoined with single spaces.
    * Returns (doc_id, kept_text, n_kept_tokens); documents with no
    * duplicated span keep their full token stream. Single-pass
    * convention as in the paper: cutting can butt-join previously
    * separated tokens into NEW n-grams, which a second pass would
    * catch — corpora run one pass.
    *
    * 100 TB shape: the span list per document is bounded by document
    * length, so the collect_list side of the join is per-doc-bounded
    * state; the cut itself is a per-row higher-order-function
    * projection — no extra shuffle beyond [[exactSubstringSpans]]'s.
    */
  def cutSubstringSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val spans = exactSubstringSpans(df, idCol, textCol, n)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("__spans"))
    df.selectExpr(s"$idCol AS doc_id", s"$textCol AS __text")
      .join(spans, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        s"regexp_extract_all(__text, '\\\\S+', 0) AS __tk",
        "coalesce(__spans, array()) AS __sp")
      .selectExpr("doc_id",
        // keep token j iff no span [s, e] covers it
        "filter(transform(__tk, (t, j) -> CASE WHEN exists(__sp, " +
          "p -> j >= p.s AND j <= p.e) THEN CAST(NULL AS STRING) " +
          "ELSE t END), x -> x IS NOT NULL) AS __kept")
      .selectExpr("doc_id",
        "concat_ws(' ', __kept) AS kept_text",
        "CAST(size(__kept) AS BIGINT) AS n_kept_tokens")
  }

  /** End-to-end MinHash near-dup pipeline: LSH candidates verified with
    * exact shingle Jaccard ≥ `threshold` — candidates come from banding
    * (cheap, high recall), verification touches only candidate pairs
    * (the inverted-index all-pairs pass is avoided entirely). Returns
    * (id_a, id_b, jaccard).
    */
  def minHashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 16,
      shingleLen: Int = 3): DataFrame = {
    val cands = minHashCandidates(df, idCol, textCol, numHashes, bands, shingleLen)
    val sh = TextFunctions
      .explodedWordShingles(df, Seq(idCol), textCol, shingleLen)
      .groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("__s"), count(lit(1)).as("__sz"))
    val a = sh.select(col(idCol).as("id_a"), col("__s").as("__sa"), col("__sz").as("__za"))
    val b = sh.select(col(idCol).as("id_b"), col("__s").as("__sb"), col("__sz").as("__zb"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("__common", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard",
        col("__common").cast("double") / (col("__za") + col("__zb") - col("__common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected components over an undirected edge list — the clustering
    * step that turns near-dup PAIRS (LSH / jaccard / cosine candidates)
    * into dedup GROUPS, so one canonical document per component survives.
    * Returns (id, component) for every node incident to an edge, with
    * `component` = the minimum node id reachable from `id`.
    *
    * Iterative min-label propagation with path compression: each round
    * every node takes the min label over itself and its neighbors (one
    * equi-join + one hash aggregate), then jumps once to its label's
    * label (one more equi-join — path halving), until a round changes
    * nothing. Rounds needed ≈ effective cluster diameter (near-dup
    * graphs are unions of small dense clusters, so ~10 in practice);
    * `maxIter` bounds adversarial chains.
    *
    * Scale shape: everything is key-partitioned joins/aggregates — no
    * driver-side graph, no all-pairs; per-round lineage is truncated with
    * localCheckpoint so plans stay flat (on a real cluster prefer a
    * reliable `checkpoint` dir for fault tolerance across rounds). Each
    * round is ONE job, the checkpoint and its convergence probe, a 1-row
    * aggregate — labels only ever decrease, so an unchanged label sum
    * means a fixed point, no changed-row join and never a data collect.
    * Small graphs (sized partition count 1, i.e. ≲1M edges, integral
    * ids) skip the loop entirely: one executor-side mapPartitions
    * union-find pass — the
    * "contract locally, iterate globally" degenerate case where local
    * IS everything.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, localThresholdEdges: Long = 500000L): DataFrame = {
    val spark = edges.sparkSession
    // compute the candidate graph once, not per round, and size the
    // per-round shuffles from its edge count: the label table is
    // ≤ |V| ≤ 2|E| rows per round, so tiny graphs run on a few partitions
    // (micro-job latency, not 32-way shuffles) while big graphs keep full
    // parallelism. AQE is off inside the loop — its per-stage re-planning
    // barriers cost more than they save on fixed-size rounds.
    val (sym, nEdges) = graft.Materialize.scanned(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .union(edges.select(col(dstCol).as("u"), col(srcCol).as("v"))))(_.count())
    val p = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (nEdges / math.max(localThresholdEdges, 500000L)).toInt + 1))
    val integralIds = sym.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (nEdges <= localThresholdEdges && integralIds) {
      // The sized graph fits ONE task: a single mapPartitions union-find
      // pass replaces the round loop (exact same result — min id per
      // component). This runs executor-side on ≤ ~1M narrow rows, never
      // on the driver; bigger graphs take the iterative path below.
      import spark.implicits._
      sym.select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x // path compression
            while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
          it.foreach { case (u, v) =>
            nodes += u += v
            val (ru, rv) = (find(u), find(v))
            if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
          }
          nodes.iterator.map(id => (id, find(id)))
        }
        .toDF("id", "component")
    } else {
      // Scope the loop's conf overrides (AQE off, right-sized shuffle
      // partitions) to a CLONED session so concurrent queries on the
      // caller's session never observe them and concurrent
      // connectedComponents calls cannot clobber each other's settings.
      // The checkpointed edge RDD re-binds to the clone without
      // recomputation, and the result re-binds back the same way.
      val scoped = org.apache.spark.sql.GraftColumnBridge.cloneSession(spark)
      scoped.conf.set("spark.sql.adaptive.enabled", "false")
      scoped.conf.set("spark.sql.shuffle.partitions", p.toString)
      val labels =
        connectedComponentsLoop(scoped.createDataFrame(sym.rdd, sym.schema), maxIter)
      val out = spark.createDataFrame(labels.rdd, labels.schema)
      // the edge set is dead once the final labels are materialized
      // (the loop's convergence probe forced them); release its blocks
      sym.unpersist()
      out
    }
  }

  private def connectedComponentsLoop(sym: DataFrame, maxIter: Int): DataFrame = {
    def labelSum(df: DataFrame): java.math.BigDecimal = Option(df
      .agg(sum(col("component").cast("decimal(38,0)")).as("s"))
      .head.getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO) // empty graph: sum(…) is NULL
    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val fromNeighbors = sym.join(labels, sym("v") === labels("id"))
        .select(col("u").as("id"), col("component"))
      val half = labels.union(fromNeighbors)
        .groupBy("id").agg(min("component").as("component"))
      // pointer jump: follow component -> component's own label (a node's
      // label is always ≤ its id and only decreases, so the jump stays in
      // the component and is monotone toward its min). One jump per round
      // measured best: label-min propagation is information-travel-bound
      // along edges (local minima point at themselves), so extra jumps
      // only pay off on already-learned chains — ~10% fewer rounds per
      // extra jump, at a full extra join per round.
      def jump(df: DataFrame): DataFrame = {
        val ptr = df.select(col("id").as("__pid"), col("component").as("__pc"))
        df.join(ptr, df("component") === ptr("__pid"), "left")
          .select(df("id").as("id"),
            coalesce(col("__pc"), df("component")).as("component"))
      }
      // labels are monotone non-increasing, so sum unchanged ⇔ fixed point
      val (next, s) = graft.Materialize.scanned(jump(half))(labelSum)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // the superseded round's checkpointed blocks are dead the moment
      // `next` materializes — release them (same discipline as
      // BpeTrain's lastCkpt) instead of pinning ~maxIter label tables
      // in executor storage for the rest of the job
      labels.unpersist()
      labels = next
      iter += 1
    }
    labels
  }

  /** 64-bit SimHash over word-token xxhash64 values: bit j of the result is
    * set iff more token hashes have bit j set than not. Near-dups have
    * small Hamming distance. Plan: explode(tokens) → ONE aggregate with a
    * per-bit vote column (same explode-free trick as minHashSignatures —
    * no tokens×64 row fan-out), then assemble the bits.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .withColumn("__h", xxhash64(col("__tok")))
    val votes = (0 until 64).map(j =>
      sum(expr(s"CASE WHEN (shiftright(__h, $j) & 1L) = 1L THEN 1 ELSE -1 END"))
        .as(s"__s$j"))
    val bits = (0 until 64)
      .map(j => when(col(s"__s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashed.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), bits.as("simhash"))
  }
}
