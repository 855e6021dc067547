package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Relational, Relational2, Relational3, Temporal, Text, Vector}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared operator surface (one entry per implemented
  * operator family from SURVEY.md §2 plus the north_star LLM-pipeline ops);
  * `oracleSql` carries the DuckDB-equivalent SQL for every query whose
  * semantics are SQL-expressible. Column names and types are aligned
  * between both sides (the driver sorts columns by name and hashes values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.ensureRuntimeConfs(spark)
    Relational.q01_pricing_summary(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each function is
    * wrapped to pin runtime confs (UTC, nanos-parquet handling) so queries
    * behave identically under a driver-provided session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ Relational2.queries ++ Relational3.queries ++
      Temporal.queries ++ Text.queries ++ Vector.queries)
      .map { case (name, fn) =>
        name -> { (s: SparkSession, d: String) =>
          GraftSession.ensureRuntimeConfs(s)
          fn(s, d)
        }
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — EVERY declared query carries one (round
    * 12 closed the no_oracle set). Kernels whose raw output is not
    * SQL-expressible are oracled on their CONTRACTS (the q148 pattern:
    * cross-engine counts DuckDB recomputes from scratch + in-engine
    * certificates pinned TRUE): the hash-seeded ANN/sketch family
    * (q31/q32/q34/q42/q48/q56/q102), the trained/iterative family
    * (q116 PCA: orthonormality + energy ordering + Bessel vs the
    * DuckDB-recomputed Gram trace; q128 SemDeDup: partition/twin-recall/
    * survivor-cleanliness vs the twin-pair count; q134 classifier:
    * accuracy floor vs the weak-label counts; q140/q141 BPE: merge
    * monotonicity + round-trip identity vs the shared-pre-tokenizer
    * vocabulary counts), and q67's sketch-error tolerances vs the exact
    * aggregates. The trained/selected kernel surfaces those contracts
    * certify stay pinned to committed golden CSVs (GoldenSpec /
    * graft.tools.Golden.kernelSurface) so a kernel drift still fails
    * the suite even when the contract booleans would hold.
    *
    * NOTE on q33_cosine_topk (and Vector.bruteForceTopK /
    * Similarity.embeddingNearDupPairs): these are the declared CORRECTNESS
    * ORACLES for the ANN family — deliberately all-pairs O(n²·d). Do not
    * route a production path onto them; the scale paths are q42 (sign-LSH),
    * q45 (bucketed LSH near-dup) and q56 (IVF), plan-locked to equi-joins
    * in PlanSpec.
    */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Relational2.oracle ++ Relational3.oracle ++
      Temporal.oracle ++ Text.oracle ++ Vector.oracle

  /** The query names in a comma-separated filter (Verify's third argument,
    * Bench's SPARK_GRAFT_BENCH_ONLY). Throws on an empty list or on any
    * name that is not a key of [[queries]], so a typo fails the run
    * instead of selecting nothing.
    */
  def selectQueries(csv: String): Set[String] = {
    val names = csv.split(',').map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(names.nonEmpty, s"no query name in '$csv'")
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }
}
