package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked lexical retrieval for the LLM-pipeline surface (north_star
  * text analysis / similarity search): BM25 top-k search and
  * reciprocal-rank-fusion hybrid retrieval (BM25 ⊕ embedding cosine).
  * All pure DataFrame plans — the big shuffle keys on (doc, term) with
  * map-side combine, corpus statistics are one mergeable reduction
  * broadcast back, and the query side is always a broadcast — so each
  * scales linearly with executors at 100 TB.
  *
  * BM25 is the Robertson/Spärck Jones probabilistic ranking function in
  * the Lucene-deployed form (the non-negative
  * `ln(1 + (N - df + 0.5)/(df + 0.5))` idf); RRF is Cormack et al. 2009
  * (`Σ_systems 1/(c + rank)`, c = 60), the standard hybrid-search fusion.
  */
object Search {

  /** Per-(doc, term) term frequency plus the document token length:
    * `(id, term, tf, dl)`. One explode + one hash aggregate with map-side
    * combine; the shuffle carries (id, term) pairs, never document text.
    *
    * `onlyTerms` (optional) prunes the exploded stream to a term set
    * BEFORE the aggregate — the document length is computed pre-explode,
    * so `dl` still counts every token while the shuffle carries only the
    * terms a query actually scores (§2.3 "shuffle fewer bytes"). tf/df
    * values for the surviving terms are unchanged.
    */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String,
      onlyTerms: Option[DataFrame] = None): DataFrame = {
    val exploded = docs
      .selectExpr(s"$idCol AS __id",
        s"regexp_extract_all($textCol, '\\\\S+', 0) AS __tk")
      .select(col("__id"), size(col("__tk")).cast("long").as("dl"),
        explode(col("__tk")).as("term"))
    val pruned = onlyTerms match {
      case Some(t) => exploded.join(broadcast(t.select("term").distinct()),
        Seq("term"), "left_semi")
      case None => exploded
    }
    pruned
      .groupBy("__id", "term", "dl")
      .agg(count(lit(1)).as("tf"))
      .withColumnRenamed("__id", idCol)
  }

  /** BM25 scores of every matching document for each query in `qTerms`
    * (a small (query_id, term) frame — broadcast side; callers pass
    * distinct terms). Output: (query_id, id, score) with
    * `score = round(Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), 6)`
    * — rounded on BOTH engines so summation order cannot flip a rank.
    *
    * 100 TB shape: corpus stats (N, avgdl) are one mergeable reduction
    * joined back as a broadcast; df aggregates ONLY over query terms (a
    * broadcast semi-join prunes the term explode first); the scoring
    * aggregate keys on (query_id, id) and emits one row per matched
    * (query, doc) — never corpus × corpus.
    */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      qTerms: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // the (doc, term) aggregate feeds BOTH the df rollup and the scoring
    // join: materialize it once (q91's discipline) — recomputing it would
    // tokenize and shuffle the corpus twice. The explode is pruned to the
    // query's terms BEFORE the aggregate (r15: the full-vocabulary
    // aggregate shuffled every corpus term to score a handful — §2.3;
    // tf/df for the scored terms are identical)
    val stats = docs
      .selectExpr(s"regexp_count($textCol, '\\\\S+') AS __n")
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("__n").cast("double")).as("avgdl"))
    graft.Materialize.shared(termFrequencies(docs, idCol, textCol, Some(qTerms)))(
      bm25FromTf(_, stats, qTerms, idCol, k1, b))
  }

  /** The BM25 scoring pipeline over an ALREADY-MATERIALIZED
    * (id, term, tf, dl) frame plus a 1-row (n_docs, avgdl) stats frame —
    * shared by the batch path above and the incremental index
    * ([[graft.streaming.StreamingIndex]]), so stream and batch scores
    * are the same expression tree by construction.
    */
  private[graft] def bm25FromTf(tf: DataFrame, stats: DataFrame,
      qTerms: DataFrame, idCol: String, k1: Double, b: Double): DataFrame = {
    val dfreq = tf
      .join(broadcast(qTerms.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("__w",
        col("__idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("__w")), 6).as("score"))
  }

  /** Per-query top-`k` ranking of a (query_id, id, score) frame on
    * (score desc, id asc) — shared by every retrieval entry point.
    */
  private[graft] def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col(idCol), col("score"))

  /** BM25 top-`k` documents per query for an in-memory query list.
    * Output: (query_id, rank, id, score), rank on (score desc, id asc).
    */
  def bm25TopK(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, queries: Seq[(Int, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val qTerms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    rankTopK(bm25Scores(docs, idCol, textCol, qTerms, k1, b), idCol, k)
  }

  /** The in-memory query list as a (query_id, term) frame (shared by
    * the batch and incremental-index entry points).
    */
  private[graft] def queryTermsDf(spark: SparkSession,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
  }

  /** Positional PHRASE search (`match_phrase`): every occurrence of
    * each exact token sequence, as `(phrase_id, id, n_matches,
    * first_pos)` per matching document (0-based token offset).
    *
    * One-aggregate formulation instead of length−1 self-joins: each
    * token position joins the broadcast (phrase_id, word, offset k)
    * table and votes for the aligned START `i − k`; a start collecting
    * exactly `len(phrase)` votes is a full match (each offset k can
    * vote at most once per (doc, start) — one token per position — so
    * the count reaches `len` iff every word sits at its offset;
    * repeated words in a phrase work because their k's differ).
    *
    * 100 TB shape: the position explode is pruned to the phrases'
    * words BEFORE the shuffle (a literal isin the scan can push), the
    * phrase table broadcasts, and the one aggregate keys on
    * (phrase, doc, start) with map-side combine. All-integer output —
    * hash-exact cross-engine.
    */
  def phraseSearch(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, phrases: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    val ph = phrases.flatMap { case (pid, ws) =>
      ws.zipWithIndex.map { case (w, k) => (pid, w, k.toLong) }
    }.toDF("phrase_id", "term", "k")
    val lens = phrases.map { case (pid, ws) => (pid, ws.length.toLong) }
      .toDF("phrase_id", "len")
    val allTerms = phrases.flatMap(_._2).distinct
    val pos = docs
      .selectExpr(s"$idCol AS __id",
        s"regexp_extract_all($textCol, '\\\\S+', 0) AS __tk")
      .select(col("__id"), posexplode(col("__tk")).as(Seq("i", "term")))
      .filter(col("term").isin(allTerms: _*))
    pos.join(broadcast(ph), Seq("term"))
      .groupBy(col("phrase_id"), col("__id"),
        (col("i").cast("long") - col("k")).as("start"))
      .agg(count(lit(1)).as("hits"))
      .join(broadcast(lens), Seq("phrase_id"))
      .filter(col("hits") === col("len"))
      .groupBy(col("phrase_id"), col("__id"))
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_pos"))
      .withColumnRenamed("__id", idCol)
  }

  /** Hybrid retrieval by reciprocal-rank fusion: each query DOCUMENT
    * retrieves with (a) BM25 over its own distinct terms
    * (more-like-this lexical retrieval) and (b) cosine similarity of its
    * embedding against the vector table, then the two candidate lists
    * fuse as `rrf = round(Σ_present 1/(60 + rank), 6)` (Cormack et al.
    * 2009) over the union — a candidate missing from one system simply
    * contributes nothing for it. Output: the top-`k` fused candidates
    * per query, `(query_id, rank, cand_id, rrf)`, self-matches excluded,
    * rank on (rrf desc, cand_id asc).
    *
    * `queryDocs` must be SMALL (it broadcasts: its terms into the BM25
    * probe, its vectors into the cosine probe). `vecs` is (vec_id, v:
    * array<double>) keyed like the doc ids; docs without a vector (or
    * vectors without a doc) still fuse from the system that has them.
    *
    * 100 TB shape: both probes are broadcast-query × distributed-corpus
    * scans (the cosine probe is |Q|·N dot products, never N²); each
    * system's rank is a per-query window over its own candidate rows;
    * the fusion join keys on (query_id, cand_id) over ≤ 2·`depth`·|Q|
    * rows.
    */
  def hybridRrf(docs: DataFrame, idCol: String, textCol: String,
      vecs: DataFrame, queryDocs: DataFrame, k: Int,
      depth: Int = 20): DataFrame = {
    val qTerms = queryDocs
      .selectExpr(s"$idCol AS query_id",
        s"explode(array_distinct(regexp_extract_all($textCol, '\\\\S+', 0))) AS term")
    val lex = bm25Scores(docs, idCol, textCol, qTerms)
      .filter(col("query_id") =!= col(idCol))
      .withColumn("lex_rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score").desc, col(idCol))))
      .filter(col("lex_rank") <= depth)
      .select(col("query_id"), col(idCol).as("cand_id"), col("lex_rank"))
    // norms are per-ROW facts: computed once per query vector (broadcast
    // side) and once per corpus vector, not once per (corpus × query)
    // pair — 3 dot products per pair become 1 (§4 per-row work; same
    // IEEE ops in the same order, so cosines are bit-identical)
    val qv = queryDocs.select(col(idCol).as("query_id"))
      .join(vecs.selectExpr("vec_id AS query_id", "v AS qv"), Seq("query_id"))
      .withColumn("qn", sqrt(graft.functions.DotProduct(col("qv"), col("qv"))))
    val vec = vecs
      .withColumn("nv", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
      .crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (graft.functions.DotProduct(col("v"), col("qv")) /
          (col("nv") * col("qn"))).as("cos"))
      .withColumn("vec_rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("vec_rank") <= depth)
      .select(col("query_id"), col("cand_id"), col("vec_rank"))
    lex.join(vec, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf", round(
        when(col("lex_rank").isNotNull, lit(1.0) / (lit(60.0) + col("lex_rank")))
          .otherwise(lit(0.0)) +
        when(col("vec_rank").isNotNull, lit(1.0) / (lit(60.0) + col("vec_rank")))
          .otherwise(lit(0.0)), 6))
      .withColumn("rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("cand_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("rrf"))
  }
}
