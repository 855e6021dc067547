package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make these queries viable
  * at 100 TB are locked in here so a refactor that silently loses
  * pushdown/broadcast/rank-limit fails CI, not the cluster.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = TestSpark.sfDir

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, d)
    df.queryExecution.executedPlan.toString
  }

  test("q01: shipdate filter and column pruning reach the parquet scan") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema: struct<l_quantity:double"))
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q04: dimension joins broadcast; no shuffle of nation/region") {
    val p = planOf("q04_star_join_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("BroadcastExchange"))
  }

  test("q142: bloom decontamination never shuffles the corpus — broadcast confirm join only") {
    val p = planOf("q142_bloom_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must not sort-merge — at 100 TB that shuffle is the whole cost")
    // the Bloom prefilter sits on the corpus stream before the join
    assert(p.contains("UDF"), "bloom prefilter missing from the corpus scan side")
  }

  test("q09: top-n compiles to a rank-limited window (WindowGroupLimit), not a full sort+filter") {
    val p = planOf("q09_topn_per_group")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q16: global sort+limit compiles to TakeOrderedAndProject") {
    val p = planOf("q16_sort_limit")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q05: semi join stays a semi join (no materialized inner join)") {
    val p = planOf("q05_semi_join")
    assert(p.contains("LeftSemi"))
  }

  test("q49: exact quantiles run as hash aggregates + window sort, not a single-buffer ObjectAggregate") {
    val p = planOf("q49_grouping_sets")
    assert(!p.contains("ObjectHashAggregate"),
      "percentile must not buffer whole groups in one aggregation buffer")
    assert(!p.toLowerCase.contains("percentile"),
      "no Percentile ObjectAggregateFunction anywhere in the plan")
    assert(p.contains("Window") && p.contains("HashAggregate"))
  }

  test("q58: percentile_disc runs as hash aggregates + window, not a buffering ObjectAggregate") {
    val p = planOf("q58_percentile_disc")
    assert(!p.contains("ObjectHashAggregate") && !p.toLowerCase.contains("percentile"))
    assert(p.contains("Window") && p.contains("HashAggregate"))
  }

  test("q59/q60: function-heavy projections still prune the part scan to two columns") {
    for (q <- Seq("q59_regexp", "q60_array_funcs")) {
      val p = planOf(q)
      assert(p.contains("ReadSchema: struct<p_partkey"), s"$q must read p_partkey")
      assert(!p.contains("p_retailprice") && !p.contains("p_brand"),
        s"$q must not scan unused part columns")
    }
  }

  test("bucketed similarity paths never degrade to nested-loop joins") {
    // q33/q45's exhaustive oracle kernel is *allowed* a BNLJ by declared
    // role; the scale paths (LSH ANN, IVF, bucketed near-dup candidates)
    // must stay equi-joins on bucket/cell keys. q42/q56's declared
    // queries now END in a one-row contract (LocalRelation), so the lock
    // targets the operator DFs the contracts execute.
    val corpus = graft.queries.Vector.plantedCorpus(spark, d, 4)
    val opPlans = Seq(
      "annTopK" -> graft.operators.Similarity
        .annTopK(corpus, "vec_id", "v", k = 3, nPlanes = 8),
      "ivfTopK" -> graft.operators.Similarity
        .ivfTopK(corpus, "vec_id", "v", k = 3, nCells = 0, nProbe = 4))
    for ((q, df) <- opPlans) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must join on bucket/cell equi keys")
    }
    // q45's candidate generation must also be equi (the exact verify then
    // re-attaches vectors by id equi-join)
    val p45 = planOf("q45_embedding_neardup")
    assert(!p45.contains("CartesianProduct"), "q45 candidates come from bucket equi-joins")
  }

  test("q66: 6-way join broadcasts dims and pushes the date filter to the orders scan") {
    val p = planOf("q66_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("GreaterThanOrEqual(o_orderdate"), "date range must reach the parquet scan")
  }

  test("q82: FOR SYSTEM_TIME AS OF compiles to one key shuffle + window, never a join") {
    val p = planOf("q82_system_time_join")
    // the carry-forward plan: union + single hash partitioning on the key
    // + running window — no join operator at all, so no broadcast of the
    // versioned side and no nested-loop fallback at any scale
    assert(p.contains("Window"), p)
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "as-of must lower to union+window, not a join")
  }

  test("q85: window join stays an equi-join over bucketed aggregates") {
    val p = planOf("q85_window_join_sql")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q137: window left join is a null-producing equi-join, not a nested loop") {
    val p = planOf("q137_window_outer_join")
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q138: window EXISTS/NOT EXISTS plan as LeftSemi + LeftAnti equi-joins") {
    val p = planOf("q138_window_semi_anti")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q139: the 256-bucket log-ratio table joins back as a broadcast") {
    val p = planOf("q139_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q86: UNNEST lowers to a pre-shuffle generate (explode before the agg exchange)") {
    val p = planOf("q86_unnest_sql")
    assert(p.contains("Generate explode"))
    // the generate feeds the partial aggregate map-side: exactly the one
    // agg exchange, nothing shuffles the exploded rows beforehand
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"))
  }

  test("q87: repetition scoring is a single narrow scan — no shuffle, no generate") {
    val p = planOf("q87_repetition")
    assert(!p.contains("Exchange"), "per-document scores must not shuffle")
    assert(!p.contains("Generate"), "array stats stay per-row, never exploded")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string"),
      "only doc_id+text read from the documents scan")
  }

  test("q89: stratified sample prunes via WindowGroupLimit before the full rank") {
    val p = planOf("q89_stratified_sample")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q91: corpus count joins as a broadcast, rank prunes via WindowGroupLimit") {
    val p = planOf("q91_tfidf_topterms")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row corpus count must broadcast, never shuffle the tf side")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), "top-3 terms must prune before the full rank")
  }

  test("q94: chunking is scan + per-row explode — no shuffle") {
    val p = planOf("q94_doc_chunks")
    assert(!p.contains("Exchange"), "doc->chunk fan-out must not shuffle")
    assert(p.contains("Generate"), p)
  }

  test("q96: boilerplate rank prunes via WindowGroupLimit") {
    val p = planOf("q96_boilerplate")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q101: windowed top-n SQL prunes via WindowGroupLimit") {
    val p = planOf("q101_window_topn_sql")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q124: span-dedup first-occurrence is an aggregate, not a per-hash window sort") {
    val p = planOf("q124_span_dedup")
    assert(!p.contains("Window"), "min(struct) aggregate must replace row_number")
    assert(p.contains("min(struct(doc_id") || p.contains("partial_min"), p.take(500))
  }

  test("q143/q144: CDC decode and avro round trip are shuffle-free row-local scans") {
    // format codecs must stay per-row at 100 TB: encode + decode + (for
    // CDC) explode, with no exchange and only the read columns scanned
    val cdc = planOf("q143_cdc_decode")
    assert(!cdc.contains("Exchange"), "CDC decode must not shuffle")
    assert(cdc.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double"),
      "only the enveloped columns read from the orders scan")
    val avro = planOf("q144_avro_roundtrip")
    assert(!avro.contains("Exchange"), "avro round trip must not shuffle")
  }

  test("q145: epoch reshuffle is one shard exchange + in-partition sort, no global sort") {
    val p = planOf("q145_epoch_shards")
    assert(p.split("Exchange").length - 1 == 1,
      s"exactly one exchange (on the shard key) expected:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      "a global sort would serialize the corpus through range partitioning")
  }

  test("q146: LIMIT+OFFSET pagination plans as a global top-k, not a full sort") {
    val p = planOf("q146_pagination")
    assert(p.contains("TakeOrderedAndProject"),
      s"offset+fetch should fold into TakeOrderedAndProject:\n$p")
  }

  test("q125: scrubbing is one shuffle-free codegen projection") {
    val p = planOf("q125_props_scrub")
    assert(!p.contains("Exchange"), "a per-row map must not shuffle")
    assert(p.contains("*(1) Project"), "projection must sit inside whole-stage codegen")
  }

  test("q151: PII redaction is one shuffle-free codegen projection") {
    val p = planOf("q151_pii_redaction")
    assert(!p.contains("Exchange"), "a per-row scrub must not shuffle")
    assert(p.contains("*(1) Project"), "projection must sit inside whole-stage codegen")
  }

  test("q126: per-source targets join as a broadcast") {
    val p = planOf("q126_mixture_sample")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q127: funnel stages come from one aggregate + explode, not per-stage rescans") {
    val p = planOf("q127_filter_attrition")
    assert(p.contains("Generate"), "stage fan-out must be an explode")
    // one documents scan per branch (flagged + dedup keys), never five
    assert("documents\\.parquet".r.findAllIn(p).size <= 4, p.take(300))
  }

  test("bracket-constructor rewrite is an identity on every committed oracle SQL") {
    // DuckDB oracle texts are full of non-constructor brackets (list
    // comprehensions, slices, subscripts) — none may be touched
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(graft.plans.BracketConstructors.rewrite(sql) == sql,
        s"$name oracle text altered by the rewrite")
    }
  }

  test("plan audit: no cartesian/nested-loop join outside the declared whitelist") {
    // q33: the all-pairs correctness oracle (declared role); q36: theta
    // join is nested-loop by definition; q91/q126/q130: 1-row scalar
    // (corpus count / Σ√count normalizer / global token total / DSIR
    // raw+target totals) BNLJ broadcast. q153: the 1-row (n_docs, avgdl)
    // BM25 stats frame joins the same way. q154: the hybrid probe is
    // corpus × BROADCAST query-docs by design (|Q|·N dots, documented
    // bounded side — Search.hybridRrf), plus the q153 stats row.
    // Everything else must stay equi-join shaped.
    val allowed = Set("q33_cosine_topk", "q36_theta_join", "q91_tfidf_topterms",
      "q126_mixture_sample", "q130_source_kl", "q139_dsir_weights",
      "q153_bm25_topk", "q154_hybrid_rrf")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allowed)
      .flatMap { name =>
        val p = SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    assert(offenders.isEmpty, s"unexpected cartesian/NL joins in: $offenders")
  }

  test("q02: whole-stage codegen covers the scan-filter-project pipeline") {
    val p = planOf("q02_filter_project")
    // codegen'd operators print with the "*(stageId)" prefix
    assert(p.contains("*(1) Project") && p.contains("*(1) Filter"))
  }
}
