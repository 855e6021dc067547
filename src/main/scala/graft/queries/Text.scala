package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Materialize.{scanned, shared}
import graft.functions.TextFunctions._
import graft.operators.{CurationPipeline, Dedup, QualityClassifier}
import graft.operators.CurationPipeline.PlantedIdOffset
import QueryDefs._

/** LLM-pipeline text surface over `documents` (north_star): dedup (exact /
  * MinHash-LSH / SimHash / n-gram Jaccard), text stats & quality, language
  * ID, fingerprinting. q31/q32's hash-seeded kernels are oracled on their
  * recall / hamming-gap CONTRACTS (the q148 pattern); everything else is
  * DuckDB-verified directly.
  */
object Text {

  /** Exact dedup keyed on md5(text): the digest IS the dedup key, so the
    * shuffle carries 32 bytes per row instead of the document body — at
    * corpus scale that is the difference between shuffling the whole
    * corpus text and shuffling ~1% of it (collision probability 2^-64-
    * scale, the standard trade every content-addressed dedup makes).
    */
  val q27_dedup_exact: Q = (s, d) => {
    import s.implicits._
    Dedup.exact(
      Tables.documents(s, d).select(md5($"text").as("text_hash"), $"doc_id"),
      Seq("text_hash"), "doc_id")
      .select($"text_hash", $"keep_id", $"n_dups")
  }

  /** Per-document token/char/quality stats. */
  val q28_text_stats: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        $"doc_id",
        tokenCount($"text").as("n_tokens"),
        length($"text").as("len"),
        alphaCount($"text").as("n_alpha"),
        punctCount($"text").as("n_punct"),
        $"text".rlike("[0-9]").as("has_digit"),
        fingerprint($"text").as("fp"),
        length(regexp_replace($"text", "\\s", "")).as("len_nospace"))
      .withColumn("alpha_ratio", rate($"n_alpha" / $"len"))
      .withColumn("avg_tok_len", rate($"len_nospace" / $"n_tokens"))
  }

  /** Heuristic language ID vs the labeled `lang` column. */
  val q29_lang_id: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        $"doc_id", $"lang",
        langScore($"text", enMarkers).as("en_n"),
        langScore($"text", esMarkers).as("es_n"),
        langScore($"text", deMarkers).as("de_n"),
        langScore($"text", frMarkers).as("fr_n"),
        langId($"text").as("pred"))
  }

  /** Exact 3-gram-shingle Jaccard similarity for same-source pairs with at
    * least one shared shingle — the ground truth the MinHash estimate
    * approximates.
    *
    * Inverted-index formulation: explode shingles, self-join on
    * (source, shingle), count commons per pair, then
    * |A∩B| / (|A| + |B| − |A∩B|). Only overlapping pairs materialize —
    * at 100 TB this is the difference between O(pairs·len) with every
    * zero-overlap pair computed, and work proportional to actual overlap.
    */
  val q30_ngram_jaccard: Q = ngramJaccard(maxDocFreq = None)

  /** Inverted-index n-gram Jaccard with an optional document-frequency
    * cap: a shingle present in m same-source docs contributes m² join
    * rows, so a stop-phrase shingle ("of the", boilerplate headers) makes
    * the self-join quadratic in its frequency at corpus scale. With
    * `maxDocFreq = Some(τ)`, shingles whose DF exceeds τ are dropped from
    * the index BEFORE the self-join — bounding per-shingle fan-out at τ²
    * while barely moving the estimate (ubiquitous shingles carry no
    * discriminating signal; both |A∩B| and the union shrink). τ=None keeps
    * the exact semantics (the oracled q30 path); DFCapSpec locks the
    * capped variant's bound + subset behavior.
    */
  def ngramJaccard(maxDocFreq: Option[Long]): Q = (s, d) => {
    import s.implicits._
    // the index is read by the size rollup, the optional DF filter and
    // BOTH self-join sides: tokenize the corpus once, not four times
    shared(explodedWordShingles(
        Tables.documents(s, d), Seq("doc_id", "source"), "text", 3)) { shingles =>
      val sz = shingles.groupBy($"doc_id", $"source").agg(count(lit(1)).as("sz"))
      val ex = shingles.join(sz, Seq("doc_id", "source"))
      val indexed = maxDocFreq match {
        case None => ex
        case Some(tau) =>
          // DF per (source, shingle); drop index entries above the cap
          val dfreq = shingles.groupBy($"source", $"shingle")
            .agg(count(lit(1)).as("__df"))
            .filter($"__df" <= tau)
            .select($"source", $"shingle")
          ex.join(dfreq, Seq("source", "shingle"))
      }
      val a = indexed.select($"source", $"doc_id".as("a_id"), $"sz".as("sza"), $"shingle")
      val b = indexed.select($"source".as("src_b"), $"doc_id".as("b_id"), $"sz".as("szb"),
        $"shingle".as("sh_b"))
      a.join(b, $"source" === $"src_b" && $"shingle" === $"sh_b" && $"a_id" < $"b_id")
        .groupBy($"source", $"a_id", $"b_id", $"sza", $"szb")
        .agg(count(lit(1)).as("common"))
        .select($"source", $"a_id", $"b_id",
          round($"common".cast("double") / ($"sza" + $"szb" - $"common"), 6).as("jaccard"))
    }
  }

  /** q31/q32's planted document twins: every doc plus its
    * [[CurationPipeline.twinText]] at id + 1e15 — the near-dup a
    * crawl-dedup must catch.
    */
  private[graft] def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs.select((col("doc_id") + PlantedIdOffset).as("doc_id"),
      CurationPipeline.twinText(col("text")).as("text")))
  }

  /** MinHash+LSH banding (64 hashes, 16 bands), oracled on its recall
    * CONTRACT (the q148 pattern — signatures are hash-seeded, the
    * contract is engine-independent): banding candidates must contain
    * ≥ 95% of the planted twin pairs whose EXACT 3-shingle Jaccard is
    * ≥ 0.8 (theory at r = 4 rows/band: P(collide | J ≥ 0.8) ≥
    * 1 − (1 − 0.8⁴)¹⁶ ≈ 0.9998). The exact-Jaccard side joins shingle
    * sets ONLY along the planted id rule — linear, never all-pairs —
    * and `n_near_twins` is a REAL cross-engine value: DuckDB recomputes
    * the twin Jaccards from scratch with its own shingling and must
    * land on the same count. AnnRecallSpec keeps the signature-accuracy
    * floor (mean |Ĵ − J| ≤ 0.05) as the stronger in-engine gate.
    */
  val q31_minhash_bands: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val nDocs = docs.count()
    // exact 3-shingle Jaccard of each (doc, twin) pair by the id rule
    val (planted, (nearTwins, nNear)) = scanned(plantedDocs(s, d)) { planted =>
      val sh = graft.functions.TextFunctions
        .explodedWordShingles(planted, Seq("doc_id"), "text", 3)
        .groupBy($"doc_id").agg(collect_set($"shingle").as("s"))
      val a = sh.filter($"doc_id" < PlantedIdOffset).select($"doc_id".as("id_a"), $"s".as("sa"))
      val b = sh.filter($"doc_id" >= PlantedIdOffset)
        .select(($"doc_id" - PlantedIdOffset).as("id_a"), $"s".as("sb"))
      scanned(a.join(b, "id_a")
        .filter(size(array_intersect($"sa", $"sb")).cast("double")
          / size(array_union($"sa", $"sb")) >= 0.8)
        .select($"id_a"))(_.count())
    }
    val hits = Dedup.minHashCandidates(planted, "doc_id", "text")
      .filter($"id_b" === $"id_a" + PlantedIdOffset)
      .join(nearTwins, Seq("id_a"), "left_semi").count()
    Seq((nDocs, nNear, nNear == 0L || hits.toDouble / nNear >= 0.95))
      .toDF("n_docs", "n_near_twins", "recall_ok")
  }

  /** Per-document 64-bit SimHash, oracled on its hamming-gap CONTRACT
    * (the q148 pattern): planted one-word-appended twins must sit at
    * SMALL hamming distance (mean ≤ 10, ≥ 98% within 20 bits — measured
    * mean 5.6) while unrelated documents sit FAR apart (mean ≥ 14 over
    * the deterministic adjacent-id pair sample — measured ≈ 18.6; 64
    * independent bits center at 32). Both gaps come from one linear
    * id-rule join; `n_adj_pairs` is a REAL cross-engine value (DuckDB counts
    * the adjacent-id pairs itself). AnnRecallSpec keeps the same gaps
    * against its randomly-sampled pair set.
    */
  val q32_simhash: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val nDocs = docs.count()
    // both hamming gaps in one join + one aggregate over the signatures:
    // each base doc looks up its twin (id + PlantedIdOffset) and its
    // adjacent base doc (id + 1)
    val (_, ham) = scanned(Dedup.simHash(plantedDocs(s, d), "doc_id", "text")) { sims =>
      val twin = lit(PlantedIdOffset)
      sims.filter($"doc_id" < twin).select($"simhash".as("xh"),
          explode(array(
            struct(($"doc_id" + twin).as("key"), lit(true).as("is_twin")),
            struct(($"doc_id" + 1L).as("key"), lit(false).as("is_twin")))).as("p"))
        .join(sims, $"p.key" === $"doc_id")
        .filter($"p.is_twin" || $"doc_id" < twin)
        .select($"p.is_twin".as("is_twin"), bit_count($"xh".bitwiseXOR($"simhash")).as("ham"))
        .agg(
          count(when($"is_twin", 1)), avg(when($"is_twin", $"ham")),
          avg(when($"is_twin", when($"ham" <= 20, 1.0).otherwise(0.0))),
          count(when(!$"is_twin", 1)), avg(when(!$"is_twin", $"ham"))).head()
    }
    Seq((nDocs, ham.getLong(3),
      ham.getLong(0) == nDocs &&
        ham.getDouble(1) <= 10.0 && ham.getDouble(2) >= 0.98,
      ham.getLong(3) == 0L || ham.getDouble(4) >= 14.0))
      .toDF("n_docs", "n_adj_pairs", "twin_gap_ok", "sep_ok")
  }

  /** Winnowing rolling-hash fingerprints (Schleimer et al., SIGMOD'03),
    * oracled on the scheme's own GUARANTEE — an exact theorem, not a
    * statistical floor: any shared substring of length ≥ w+k−1 = 11
    * yields a shared fingerprint. The planted twin shares its base
    * document's ENTIRE text, so every pair whose base text is ≥ 11
    * chars MUST overlap in at least one fingerprint (`guarantee_ok`,
    * checked by a linear id-rule join + `arrays_overlap` — hash
    * selection itself is not SQL-expressible, the guarantee is).
    * `n_elig_pairs` is a REAL cross-engine value (DuckDB counts the
    * ≥ 11-char docs itself). The fused kernel stays zero-shuffle per
    * document; VectorTextSpec keeps the containment property tests.
    */
  val q48_winnow_fingerprints: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val nDocs = docs.count()
    val elig = docs.filter(length($"text") >= 11).select($"doc_id")
    // eligible-pair and shared-fingerprint counts in ONE aggregate pass
    // (r16 — was a checkpoint plus two sequential count jobs; same longs)
    val (_, pc) = scanned(plantedDocs(s, d)
        .select($"doc_id", graft.functions.WinnowFingerprints($"text").as("fp"))) { fp =>
      val base = fp.filter($"doc_id" < PlantedIdOffset)
      val twin = fp.filter($"doc_id" >= PlantedIdOffset)
        .select(($"doc_id" - PlantedIdOffset).as("doc_id"), $"fp".as("fp_t"))
      base.join(twin, "doc_id")
        .join(elig, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)),
          sum(when(arrays_overlap($"fp", $"fp_t"), 1L).otherwise(0L))).head()
    }
    val nElig = pc.getLong(0)
    val nShared = if (pc.isNullAt(1)) 0L else pc.getLong(1)
    Seq((nDocs, nElig, nElig == nShared))
      .toDF("n_docs", "n_elig_pairs", "guarantee_ok")
  }

  /** The COMPOSED north-star pipeline as a declared, oracled query
    * ([[graft.operators.CurationPipeline]] — exact dedup → production
    * near-dup → decontamination → quality filter → packing, one job,
    * id-set semi-join hand-offs; the per-stage scale story is the
    * BASELINE "pipeline at 100×" table, 6.0× wall at 100× data).
    * Oracled on its CONTRACT (the q148 pattern): DuckDB replays the
    * planted crawl and recomputes `n_crawl` and the EXACT-dedup
    * survivor count (`count(DISTINCT md5(text))`) and the planted
    * twin-vector count from scratch; the approximate stages pin
    * booleans — near-dup removals within [0.99 · twins, twins]
    * (production recall target, precision 1 on the fixture), ZERO
    * survivors at cosine ≥ 0.9 to the eval matrix re-scored by the
    * exact q136 kernel AND no benchmark id surviving, quality/packing
    * shape bounds. PipelineSpec holds the per-stage attributions.
    */
  val q149_curation_composed: Q = (s, d) => {
    import s.implicits._
    val r = CurationPipeline.runDetailed(s, d)
    val (n0, n1) = r.stages("1_exact_dedup")
    val (in2, out2) = r.stages("2_neardup_dedup")
    val (in4, out4) = r.stages("4_quality_filter")
    val (in5, out5) = r.stages("5_packing_windows")
    // decontamination re-checked with the EXACT kernel over the
    // survivors' vectors and the run's eval matrix. The three
    // certificate counts are independent, so they run side by side
    val Seq(nTwinVecs, contaminated, benchLeft) = graft.Parallel.all(
      () => Tables.embeddings(s, d).filter($"vec_id" % 4 === 0).count(),
      () => r.vecs
        .join(r.keepClean.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_semi")
        .filter(graft.functions.MaxCosineExpr($"v", r.eval.vecs) >= 0.9).count(),
      () => r.keepClean.filter($"doc_id" < CurationPipeline.EvalIdMax).count())
    Seq((n0, n1, nTwinVecs,
      in2 - out2 <= nTwinVecs && in2 - out2 >= math.floor(0.99 * nTwinVecs).toLong,
      contaminated == 0L && benchLeft == 0L,
      out4 > 0L && out4 <= in4,
      out5 > 0L && out5 <= in5))
      .toDF("n_crawl", "n_after_exact", "n_twin_vecs",
        "neardup_ok", "decontam_ok", "quality_ok", "packing_ok")
  }

  /** The INCREMENTAL north-star pipeline as a declared, oracled query
    * ([[graft.streaming.StreamingCuration]] — q149's five stages run
    * CONTINUOUSLY: crawl batches dedup against persistent md5 / LSH
    * bucket / vector stores, decontaminate against static eval side
    * inputs, and apply a side-input quality model; the streaming
    * deployment and its exactly-once replay discipline are pinned in
    * PipelineSpec, and BASELINE records 9,138 docs/s at 100× data).
    * Here the SAME batch-incremental kernel (`processBatch`, the
    * foreachBatch body) drives four id-range batches against a fresh
    * store, and the CONTRACT is the q148 pattern: DuckDB replays the
    * planted crawl and recomputes `n_crawl` and the exact-dedup
    * survivor count (`count(DISTINCT md5(text))` — keep-first and
    * keep-min-id always agree on the COUNT), plus two in-engine
    * certificates — the accumulated incremental survivors EQUAL the
    * q149 batch run's survivor set (the stream≡batch law, valid on
    * id-ordered arrival), and snapshot packing over them yields the
    * batch run's stage-5 window count.
    */
  val q150_curation_incremental: Q = (s, d) => {
    import s.implicits._
    import graft.operators.Similarity
    // the batch run: the equality target, and the source of every side
    // input (crawl frames, eval set, quality model — a periodic batch
    // refresh applied in-stream, the production convention; per-batch
    // retraining would make published verdicts depend on arrival order)
    val r = CurationPipeline.runDetailed(s, d)
    // n_crawl = stage-1 rows_in (the vec left-join below is 1:1 on unique
    // vec_ids, so crawl has exactly that many rows); n_after_exact =
    // stage-1 rows_out (keep-min-id survivors ≡ count(DISTINCT md5(text)))
    val (nCrawl, nAfterExact) = r.stages("1_exact_dedup")
    val (b, t) = Similarity.lshParams(nAfterExact, CurationPipeline.NearDupCosine)
    val cfg = graft.streaming.StreamingCuration.Config(
      nPlanes = b, nTables = t, eval = r.eval, model = r.model)
    // four id-range batches (base lower/upper, exact copies, twins) —
    // the id-ordered-arrival regime where keep-first ≡ keep-min-id
    val (crawl, mid) = scanned(r.docs
        .join(r.vecs.select($"vec_id".as("doc_id"), $"v"), Seq("doc_id"), "left")
        .select($"doc_id", $"text", $"source", $"v")) {
      _.filter($"doc_id" < PlantedIdOffset).agg(max($"doc_id")).head().getLong(0) / 2
    }
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_q150_store").toString
    try {
    val splits = Seq(
      $"doc_id" < mid,
      $"doc_id" >= mid && $"doc_id" < PlantedIdOffset,
      $"doc_id" >= PlantedIdOffset && $"doc_id" < 2 * PlantedIdOffset,
      $"doc_id" >= 2 * PlantedIdOffset)
    val (streamKept, nStream) = scanned(splits.zipWithIndex.map { case (p, i) =>
      graft.streaming.StreamingCuration
        .processBatch(crawl.filter(p), cfg, storeDir, batchId = i.toLong)
        .select($"doc_id")
    }.reduce(_ unionByName _))(_.count())
    // stage-4 rows_out IS keepQual's count — no extra count job. The
    // stream-only survivors and the snapshot packing over the INCREMENTAL
    // survivors (which must reproduce the batch run's stage-5 window
    // count) are independent counts, so they run side by side
    val Seq(streamOnly, packedN) = graft.Parallel.all(
      () => streamKept.join(r.keepQual, Seq("doc_id"), "left_anti").count(),
      () => CurationPipeline.packingPlan(r.docs.join(streamKept, Seq("doc_id"), "left_semi"))
        .count())
    val equalOk = nStream == r.stages("4_quality_filter")._2 && streamOnly == 0L
    Seq((nCrawl, nAfterExact, equalOk, packedN == r.stages("5_packing_windows")._2))
      .toDF("n_crawl", "n_after_exact", "stream_equals_batch_ok", "packing_ok")
    } finally {
      // every count above is materialized eagerly, so the store is dead
      // once we return — delete it (a leaked multi-MB dir per invocation
      // otherwise: 3× per REPEAT=3 bench run)
      graft.streaming.StreamingCuration.deleteStore(storeDir)
    }
  }

  /** BPE-style pre-tokenization counts (north_star "token counting:
    * whitespace + a BPE-ish regex"): the GPT-2-family pre-tokenizer
    * pattern shape — contractions, space-prefixed letter runs, digit
    * runs, punctuation runs, whitespace — restricted to RE2-compatible
    * constructs (no lookahead) so the DuckDB oracle runs the SAME
    * pattern. Whitespace tokenization (q28's `\S+`) sits alongside for
    * the ws-vs-BPE fertility ratio.
    */
  val q75_bpe_tokens: Q = (s, d) => {
    import s.implicits._
    val bpe = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9']+|\\s+"
    Tables.documents(s, d)
      .select(
        $"doc_id",
        regexp_count($"text", lit(bpe)).cast("long").as("n_bpe"),
        regexp_count($"text", lit("[a-z]+")).cast("long").as("n_word"),
        regexp_count($"text", lit("[0-9]+")).cast("long").as("n_num"),
        tokenCount($"text").cast("long").as("n_ws"))
      .withColumn("fertility", rate($"n_bpe" / $"n_ws"))
  }

  /** Document quality scoring (north_star "quality scoring: length/punct/
    * stopword ratios"): the classic pre-training corpus filters — length
    * band, punctuation density, stopword density (en markers / tokens,
    * the Gopher-style "has common words" signal) — folded into one
    * keep/flag classification per document.
    */
  val q79_quality_score: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id" +: QualityClassifier.heuristicSignals($"text"): _*)
      .select(
        $"doc_id",
        rate($"n_stop" / $"n_tok").as("stopword_ratio"),
        rate($"n_punct" / $"len").as("punct_ratio"),
        rate($"len" / $"n_tok").as("chars_per_tok"),
        when(!QualityClassifier.minTokens, "too_short")
          .when(!QualityClassifier.punctOk, "punct_heavy")
          .when(!QualityClassifier.hasStopword, "no_stopwords")
          .otherwise("keep").as("quality"))
  }

  /** Within-document repetition scoring (north_star quality filters —
    * the Gopher-style "fraction of duplicate n-grams" signal used to
    * drop looping/boilerplate pages from pre-training corpora): per
    * document, the duplicate-token and duplicate-bigram fractions
    * (1 − distinct/total), folded into a keep/repetitive/loopy verdict.
    * Pure per-row array expressions — one narrow scan, no shuffle, no
    * explode: the 100 TB shape for a per-document score. Single-token
    * docs have no bigrams (NULL ratio via nullif), never an error.
    */
  val q87_repetition: Q = (s, d) => {
    Tables.documents(s, d)
      .selectExpr("doc_id", "regexp_extract_all(text, '\\\\S+', 0) AS t")
      .selectExpr(
        "doc_id",
        "CAST(size(t) AS BIGINT) AS n_tok",
        "CAST(size(array_distinct(t)) AS BIGINT) AS n_uniq",
        """CAST(size(array_distinct(CASE WHEN size(t) < 2 THEN array()
          |  ELSE transform(sequence(1, size(t) - 1),
          |                 i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
          |  END)) AS BIGINT) AS n_uniq_2g""".stripMargin)
      .selectExpr(
        "doc_id", "n_tok", "n_uniq", "n_uniq_2g",
        "round(1.0 - CAST(n_uniq AS DOUBLE) / n_tok, 4) AS dup_tok_ratio",
        "round(1.0 - CAST(n_uniq_2g AS DOUBLE) / nullif(n_tok - 1, 0), 4) AS dup_2g_ratio",
        """CASE WHEN 1.0 - CAST(n_uniq AS DOUBLE) / n_tok > 0.6 THEN 'repetitive'
          |     WHEN 1.0 - CAST(n_uniq_2g AS DOUBLE) / nullif(n_tok - 1, 0) > 0.3 THEN 'loopy'
          |     ELSE 'keep' END AS verdict""".stripMargin)
  }

  /** Deterministic stratified sampling (north_star curation: fix a
    * per-stratum quota without an RNG so the sample is reproducible
    * across runs and engines): rank documents inside each (lang,
    * source) stratum by md5(text) — a uniform, content-derived order —
    * and keep the first 3. The 100 TB shape: one hash-shuffle on the
    * stratum key + WindowGroupLimit rank pruning, no global sort, no
    * driver sampling.
    */
  val q89_stratified_sample: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source", md5($"text").as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"lang", $"source").orderBy($"h", $"doc_id")))
      .filter($"rn" <= 3)
      .select($"lang", $"source", $"doc_id", $"rn")
  }

  /** Per-document TF-IDF top terms (north_star text analysis): term
    * frequency per (doc, term), document frequency per term, idf =
    * ln(N/df), keep each document's 3 highest-weighted terms. The 100 TB
    * shape: two hash aggregates on keys that scale with data, a
    * broadcast-able term-level DF side, and the 1-row corpus count joined
    * as a broadcast — no global sort (WindowGroupLimit prunes the rank).
    */
  val q91_tfidf_topterms: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = docs.select($"doc_id",
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
    // the (doc, term) aggregate feeds BOTH the document-frequency rollup
    // and the final join: materialize it once — recomputing it would
    // repeat the tokenize AND its shuffle
    val n = docs.agg(count(lit(1)).as("__n"))
    shared(toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))) { tf =>
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("__tfidf", $"tf" * log($"__n".cast("double") / $"df"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"__tfidf".desc, $"term")))
        .filter($"rn" <= 3)
        .select($"doc_id", $"term", $"tf", $"df", rate($"__tfidf").as("tfidf"), $"rn")
    }
  }

  /** Train/eval contamination detection (north_star curation: the
    * decontamination pass every pre-training pipeline runs before
    * evaluation): document pairs from DIFFERENT sources sharing at least
    * one distinct 5-gram, with the shared-shingle count as the overlap
    * strength. Same inverted-index shape as q30 — only colliding pairs
    * materialize; at corpus scale the q30 document-frequency cap bounds
    * boilerplate-shingle fan-out.
    */
  val q93_contamination: Q = (s, d) => {
    import s.implicits._
    // the self-join reads the shingle table twice: materialize the
    // explode once instead of tokenizing the corpus on both sides
    shared(explodedWordShingles(
        Tables.documents(s, d), Seq("doc_id", "source"), "text", 5)) { sh =>
      val a = sh.select($"source".as("src_a"), $"doc_id".as("a_id"), $"shingle")
      val b = sh.select($"source".as("src_b"), $"doc_id".as("b_id"),
        $"shingle".as("sh_b"))
      a.join(b, $"shingle" === $"sh_b" && $"src_a" < $"src_b")
        .groupBy($"src_a", $"a_id", $"src_b", $"b_id")
        .agg(count(lit(1)).as("n_shared"))
    }
  }

  /** Bloom-prefiltered benchmark decontamination (north_star curation —
    * the SCALE path for the q93-style shingle join when one side is a
    * small benchmark/eval set, the shape of every real decontamination
    * run): eval docs (doc_id % 13 == 0) contribute their distinct
    * 3-gram shingles to a Bloom filter built by a distributed aggregate
    * (`df.stat.bloomFilter`, `org.apache.spark.util.sketch` — bounded
    * by the eval shingle count, not the corpus); the CORPUS shingle
    * stream is pruned by the broadcast Bloom BEFORE the confirming
    * broadcast join against the exact eval shingle set. At 100 TB the
    * corpus side never shuffles: a Bloom false positive costs one
    * wasted probe in the confirming join (never a wrong row), false
    * negatives don't exist — so the result is EXACT and DuckDB-oracled,
    * unlike a sketch-only pass.
    */
  val q142_bloom_decontamination: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // eval set = every 13th doc; 3-gram shingles (the n is a free
    // parameter — 3 gives the fixture corpus enough genuine collisions
    // to hash-check the whole pipeline)
    val isEval = pmod($"doc_id", lit(13)) === 0
    // size the filter from the measured eval shingle count (a cheap job
    // over the SMALL side); 1% fpp keeps the confirming join's probe
    // waste negligible
    val (evalSh, nEval) = scanned(
      explodedWordShingles(docs.filter(isEval), Seq("doc_id"), "text", 3)
        .select($"shingle").distinct())(sh => math.max(sh.count(), 1L))
    val bloom = evalSh.stat.bloomFilter("shingle", nEval, 0.01)
    val bloomB = s.sparkContext.broadcast(bloom)
    val mightHave = udf((sh: String) => sh != null && bloomB.value.mightContain(sh))
    explodedWordShingles(docs.filter(!isEval), Seq("doc_id"), "text", 3)
      .filter(mightHave($"shingle"))
      .join(broadcast(evalSh), "shingle")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .select($"doc_id", $"n_shared")
  }

  /** Fixed-size token chunking with stride (north_star curation: the
    * context-window splitting step every pre-training pipeline runs
    * before packing): 64-token chunks every 48 tokens (16-token overlap),
    * each with its start offset, length, and content hash. Pure per-row
    * array expressions + one explode — narrow scan, no shuffle, no
    * driver involvement: the 100 TB shape for a doc → chunk fan-out.
    */
  val q94_doc_chunks: Q = (s, d) => {
    Tables.documents(s, d)
      .selectExpr("doc_id", "regexp_extract_all(text, '\\\\S+', 0) AS tk")
      .filter("size(tk) > 0")
      .selectExpr("doc_id", "tk",
        "1 + greatest(0, (size(tk) - 64 + 47) div 48) AS n_chunks")
      .selectExpr("doc_id", "tk", "explode(sequence(0, n_chunks - 1)) AS ci")
      .selectExpr(
        "doc_id",
        "CAST(ci AS INT) AS chunk_idx",
        "CAST(1 + ci * 48 AS BIGINT) AS start_tok",
        "CAST(size(slice(tk, CAST(1 + ci * 48 AS INT), 64)) AS BIGINT) AS n_chunk_tok",
        "md5(concat_ws(' ', slice(tk, CAST(1 + ci * 48 AS INT), 64))) AS chunk_hash")
  }

  /** Context-window packing plan (north_star curation: how documents fill
    * fixed 2048-token training windows): per source shard, documents are
    * laid out in id order, each assigned to the window its first token
    * lands in; per (shard, window) the doc count, token count, and fill
    * ratio. The running sum is PER SOURCE — packing at corpus scale is a
    * per-shard operation, so the window never needs a global ordering.
    */
  val q95_packing_plan: Q = (s, d) =>
    CurationPipeline.packingPlan(Tables.documents(s, d))
      .withColumn("fill",
        rate(col("n_tokens").cast("double") / CurationPipeline.WindowTokens))

  /** Boilerplate shingle detection (north_star curation: repeated
    * headers/footers poison training corpora): the 3 most document-
    * frequent distinct 5-grams per source with DF ≥ 2 — the candidates a
    * removal pass would strip. Inverted index + hash aggregate + rank
    * pruned by WindowGroupLimit; DF capping (q30) bounds the index at
    * corpus scale.
    */
  val q96_boilerplate: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    explodedWordShingles(Tables.documents(s, d), Seq("doc_id", "source"), "text", 5)
      .groupBy($"source", $"shingle").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"df".desc, $"shingle")))
      .filter($"rn" <= 3)
  }

  /** Corpus-LM surprisal scoring (north_star quality: the perplexity
    * proxy pipelines use to flag out-of-distribution text without an
    * external model): a word-bigram model is estimated from the corpus
    * itself (P(w2|w1) = count(w1 w2)/count(w1)), then each document is
    * scored by its mean and max bigram surprisal −ln P. Two hash
    * aggregates build the model; scoring re-joins it on the bigram keys
    * — Zipf skew on common-word keys is the q30 DF-cap / AQE-skew story
    * at corpus scale.
    */
  val q98_bigram_surprisal: Q = (s, d) => {
    import s.implicits._
    val bigrams = Tables.documents(s, d)
      .selectExpr("doc_id", "regexp_extract_all(lower(text), '[a-z]+', 0) AS w")
      .filter("size(w) >= 2")
      .selectExpr("doc_id",
        """explode(transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))) AS b""".stripMargin)
      .select($"doc_id", $"b.w1", $"b.w2")
    // three consumers (unigram counts, bigram counts, the scoring join):
    // materialize the tokenize+explode once, not three times
    shared(bigrams) { bg =>
      val uni = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
      val bi = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
      bg.join(bi, Seq("w1", "w2")).join(uni, Seq("w1"))
        .withColumn("s", -log($"c2".cast("double") / $"c1"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          rate(avg($"s")).as("avg_surprisal"),
          rate(max($"s")).as("max_surprisal"))
    }
  }

  /** End-to-end curation pipeline (north_star capstone): the composition
    * every pre-training corpus runs — quality filter (q79's keep rule) →
    * exact dedup keeping the lowest doc_id → per-(lang, source) corpus
    * stats of what survives. One declared query proving the curation ops
    * compose; each stage is the same scale shape it has standalone
    * (narrow scan + hash aggregates + key joins, no collect, no sort).
    */
  val q100_curation_pipeline: Q = (s, d) => {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .select(Seq($"doc_id", $"lang", $"source", $"text") ++
        QualityClassifier.heuristicSignals($"text"): _*)
      .filter(QualityClassifier.heuristicKeep)
    // the join back to `scored` is on doc_id only, so document text
    // never shuffles
    scored.join(Dedup.keepMinIdPerText(scored), "doc_id")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").cast("long").as("n_tokens"),
        rate(avg($"n_tok".cast("double"))).as("avg_tokens"))
  }

  /** Span-level exact dedup tagging (north_star dedup: the paragraph/
    * line-granular pass corpora run when whole-document dedup is too
    * coarse — here at fixed 8-token span granularity since the fixture
    * text has no paragraph breaks): every non-overlapping 8-token span is
    * content-hashed; a span is a duplicate unless it is the corpus-wide
    * first occurrence (lowest (doc_id, span index)); each document
    * reports its duplicated-span fraction. The 100 TB shape: the shuffle
    * key is the 32-byte digest (never the span text), first-occurrence is
    * a map-side-combined min(struct) hash aggregate (no per-hash sort),
    * and the join back reuses the same hash partitioning.
    */
  val q124_span_dedup: Q = (s, d) => {
    import s.implicits._
    val sp = Tables.documents(s, d)
      .selectExpr("doc_id", "regexp_extract_all(text, '\\\\S+', 0) AS tk")
      .filter("size(tk) >= 8")
      .selectExpr("doc_id", "tk", "explode(sequence(0, size(tk) div 8 - 1)) AS i")
      .selectExpr("doc_id", "CAST(i AS BIGINT) AS i",
        "md5(concat_ws(' ', slice(tk, CAST(1 + i * 8 AS INT), 8))) AS h")
    val first = sp.groupBy($"h")
      .agg(min(struct($"doc_id", $"i")).as("f"))
    sp.join(first, "h")
      .withColumn("is_dup", !($"doc_id" === $"f.doc_id" && $"i" === $"f.i"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"is_dup", 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac", rate($"n_dup_spans" / $"n_spans"))
  }

  /** Sensitive-token scrubbing (north_star curation: the PII-masking map
    * every corpus runs before training — here masking numeric runs in the
    * events' JSON payload, the fixture's only digit-bearing column): a
    * pure per-row rewrite plus a masked-run count. The 100 TB shape: a
    * narrow projection inside one WholeStageCodegen span — no shuffle, no
    * state, embarrassingly parallel.
    */
  val q125_props_scrub: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id", $"event_type",
        regexp_replace($"props", "[0-9]+", "#").as("scrubbed"),
        expr("CAST(size(regexp_extract_all(props, '[0-9]+', 0)) AS BIGINT)")
          .as("n_masked"))
  }

  /** Temperature-rebalanced mixture sampling (north_star curation: the
    * α=0.5 temperature resample multilingual/multi-domain pipelines use
    * to flatten a skewed source mixture): per-source targets ∝ √count,
    * normalized to a 300-doc budget, filled deterministically by
    * md5-rank (reproducible across runs and engines, no RNG). The 100 TB
    * shape: the source histogram and the per-source targets are tiny
    * broadcast sides; ranking is a per-shard hash-shuffle + sort on the
    * stratum key; no global sort and no driver-side sampling.
    */
  val q126_mixture_sample: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select($"doc_id", $"source", $"text",
      tokenCount($"text").cast("long").as("n_tok"))
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("cnt"))
    val z = counts.agg(sum(sqrt($"cnt".cast("double"))).as("z"))
    // round to 6 decimals BEFORE the floor: Σ√cnt is order-of-summation
    // sensitive in the last ulp, and an unrounded knife-edge ratio could
    // otherwise floor differently per engine/partitioning
    val target = counts.crossJoin(broadcast(z))
      .withColumn("target",
        floor(round(sqrt($"cnt".cast("double")) / $"z" * 300, 6)).cast("long"))
      .select($"source", $"cnt", $"target")
    docs
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy(md5($"text"), $"doc_id")))
      .join(broadcast(target), "source")
      .filter($"rn" <= $"target")
      .groupBy($"source")
      .agg(max($"cnt").as("cnt"), max($"target").as("target"),
        count(lit(1)).as("n_kept"), sum($"n_tok").as("n_tokens"))
  }

  /** Filter-attrition funnel (north_star observability: the per-stage
    * survivor report every curation pipeline publishes so a filter that
    * silently eats the corpus is caught): the q100 filter chain — token
    * floor → punctuation ratio → stopword presence → exact-dedup
    * first-occurrence — evaluated in ONE pass per document (the deepest
    * consecutive stage each document reaches), then survivors per stage
    * via a 5-row explode of the per-depth aggregate. The 100 TB shape:
    * one narrow scan + a ≤5-group hash aggregate; the dedup stage reuses
    * q27's digest-keyed shuffle; no rescan per filter.
    */
  val q127_filter_attrition: Q = (s, d) => {
    import s.implicits._
    val flagged = Tables.documents(s, d)
      .select(Seq($"doc_id", $"text") ++ QualityClassifier.heuristicSignals($"text"): _*)
      .withColumn("f1", QualityClassifier.minTokens)
      .withColumn("f2", QualityClassifier.punctOk)
      .withColumn("f3", QualityClassifier.hasStopword)
    val keep = Dedup.keepMinIdPerText(flagged.filter($"f1" && $"f2" && $"f3"))
      .select($"doc_id", lit(true).as("is_first"))
    flagged.join(keep, Seq("doc_id"), "left")
      .select($"n_tok",
        when(!$"f1", 0).when(!$"f2", 1).when(!$"f3", 2)
          .when($"is_first".isNull, 3).otherwise(4).as("reached"))
      .groupBy($"reached")
      .agg(count(lit(1)).as("c"), sum($"n_tok").as("t"))
      .select(explode(sequence(lit(0), $"reached")).as("stage"), $"c", $"t")
      .groupBy($"stage")
      .agg(sum($"c").as("n_docs"), sum($"t").as("n_tokens"))
      .withColumn("stage_name", element_at(
        array(lit("all"), lit("min_tokens"), lit("punct_ratio"),
          lit("stopwords"), lit("dedup_first")), $"stage" + 1))
  }

  /** Zipf-fit corpus QA (north_star corpus statistics: a healthy natural
    * corpus has a log-log term-frequency slope near −1; boilerplate or
    * synthetic contamination bends it): term frequencies, top-1000 by
    * frequency via TakeOrderedAndProject (global sort prunes to k), rank
    * within the bounded top-k (single 1000-row partition — bounded by
    * construction), then the least-squares slope/intercept of
    * ln freq ~ ln rank via the codegen'd regr_* aggregates. The 100 TB
    * shape: one term hash-aggregate (vocabulary-sized, not corpus-sized)
    * + a top-k + an O(k) fit.
    */
  val q129_zipf_fit: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"term").limit(1000)
      .withColumn("rnk", row_number().over(Window.orderBy($"c".desc, $"term")))
      .agg(count(lit(1)).as("n_terms"),
        rate(expr("regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))")).as("slope"),
        rate(expr("regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))")).as("intercept"))
  }

  /** Per-source distribution shift (north_star corpus QA: the KL
    * divergence of each source's unigram distribution from the corpus
    * mixture — the drift score pipelines monitor when a new crawl shard
    * joins the mix): KL(P_src ‖ P_corpus) = Σ p_s ln(p_s/p_c) over the
    * source's observed terms. The 100 TB shape: two vocabulary-keyed
    * hash aggregates, the global term distribution joins per-term (same
    * key partitioning), per-source totals broadcast — corpus text never
    * shuffles, only (source, term) count rows.
    */
  val q130_source_kl: Q = (s, d) => {
    import s.implicits._
    // (source, term) counts feed FOUR consumers (global dist, both
    // totals, the final join): materialize the vocabulary-sized frame
    // once so the corpus tokenize pass runs once, not four times
    shared(Tables.documents(s, d)
        .select($"source",
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
        .groupBy($"source", $"term").agg(count(lit(1)).as("cs"))) { st =>
      val gl = st.groupBy($"term").agg(sum($"cs").as("cg"))
      val gtot = st.agg(sum($"cs").as("gt"))
      val stot = st.groupBy($"source").agg(sum($"cs").as("ts"))
      st.join(gl, "term")
        .join(broadcast(stot), "source")
        .crossJoin(broadcast(gtot))
        .withColumn("kl_term",
          ($"cs" / $"ts") * log(($"cs".cast("double") / $"ts") / ($"cg".cast("double") / $"gt")))
        .groupBy($"source")
        .agg(max($"ts").as("n_tokens"), rate(sum($"kl_term")).as("kl"))
    }
  }

  /** Quality-classifier training + scoring (north_star text analysis —
    * the fasttext-style weak-label model of CCNet-class curation
    * pipelines): logistic regression over 64-bucket hashed bag-of-words,
    * weak labels from the q127 heuristic chain (token floor, punctuation
    * ratio, stopword presence), trained 30 full-batch GD iterations —
    * each ONE scan + ONE mergeable 67-double reduction
    * ([[graft.operators.QualityClassifier]]) — then the whole corpus
    * scored and rolled up per source. The KERNEL surface (per-source
    * scores/predictions) stays golden-pinned in GoldenSpec (iterative
    * float training is not SQL-expressible) and the spec asserts the
    * loss trajectory decreases and the model separates the weak classes;
    * the DECLARED query is the training CONTRACT (the q148 pattern):
    * per-source doc and weak-label counts DuckDB recomputes from scratch
    * with the same heuristic SQL as the q127 oracle, plus an
    * accuracy ≥ 0.85 boolean PER SOURCE (the trained model must
    * reproduce the weak labels it distilled — the fasttext-distillation
    * acceptance bar). Floor basis (BASELINE.md round 13, "Contract floors
    * vs measured", all-rows sweep):
    * min per-source accuracy measured 1.0/1.0/1.0 at sf0.001/0.01/0.1
    * and 0.864 at sf10 (the MakeScale vocab-suffixed copies carry zero
    * English stopwords, so their weak labels sit at the feature-hash
    * decision boundary) — the old 0.9 floor sat ABOVE the worst
    * measured source, a latent sweep failure the round-13 all-rows
    * CheckContracts fix surfaced; 0.85 stays within ~2 points under it
    * while a broken trainer still reads ~0.5.
    */
  private[graft] val q134_kernel: Q = (s, d) => {
    import s.implicits._
    // the features feed the trainer AND the final scoring aggregate, so
    // the tokenize+featurize pass runs once
    val (feats, model) = QualityClassifier.trainWeak(
      Tables.documents(s, d).select($"doc_id", $"source", $"text"))
    feats
      .withColumn("score", QualityClassifier.score($"f", model))
      .withColumn("pred", QualityClassifier.passes($"score").cast("double"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg($"score"), 4).as("avg_score"),
        sum($"pred").cast("long").as("n_pred_keep"),
        sum($"y").cast("long").as("n_label_keep"),
        round(avg(($"pred" === $"y").cast("double")), 4).as("accuracy"))
  }

  val q134_quality_classifier: Q = (s, d) => {
    import s.implicits._
    q134_kernel(s, d).select($"source", $"n_docs", $"n_label_keep",
      ($"accuracy" >= 0.85).as("acc_ok"))
  }

  /** DSIR-style importance weighting (north_star data selection — the
    * hashed n-gram importance-resampling recipe of Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling":
    * score raw documents by how target-like their hashed token
    * distribution is). Features are 256 buckets keyed by the first two
    * hex chars of md5(term) — a hash both engines share verbatim — with
    * the target distribution taken from the `lang = 'en'` slice and the
    * raw distribution from the whole corpus, add-1 smoothed. Per-doc
    * weight = mean over tokens of ln(p_target(b)/p_raw(b)).
    *
    * The 100 TB shape: ONE corpus pass total (r15 — the bucket
    * distributions previously re-tokenized the corpus in their own
    * aggregate): the (doc, bucket)-keyed aggregate materializes once
    * (narrow — ≤256 buckets per doc, far smaller than the text) and
    * both distributions roll up from it as conditional sums — exact
    * integers, identical counts. The text itself never joins or
    * re-shuffles, and every reduction is mergeable map-side.
    */
  val q139_dsir_weights: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source",
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .withColumn("b", substring(md5($"term"), 1, 2))
    shared(toks.groupBy($"doc_id", $"lang", $"source", $"b")
        .agg(count(lit(1)).as("n"))) { db =>
      // BOTH distributions roll up from the per-doc bucket aggregate (sum
      // of per-doc counts ≡ token counts — exact longs): raw = every
      // token, target = the en slice
      val stats = db.groupBy($"b")
        .agg(sum($"n").as("cr"),
          sum(when($"lang" === "en", $"n").otherwise(0L)).as("ct"))
      val tot = stats.agg(sum($"cr").as("rt"), sum($"ct").as("tt"))
      val ratio = stats
        .crossJoin(broadcast(tot))
        .select($"b", log((($"ct" + 1.0) / ($"tt" + 256.0)) /
          (($"cr" + 1.0) / ($"rt" + 256.0))).as("lr"))
      db.join(broadcast(ratio), "b")
        .groupBy($"doc_id", $"lang", $"source")
        .agg(sum($"n").cast("long").as("n_tok"),
          // + 0.0 normalizes IEEE negative zero after rounding (DuckDB parity)
          (rate(sum($"n" * $"lr") / sum($"n")) + lit(0.0)).as("w"))
    }
  }

  /** Tokenizer vocabulary induction (north_star tokenizer work): the top
    * 20 BPE merges learned on the corpus — see [[graft.operators.BpeTrain]]
    * for the algorithm and the 100 TB shape (one corpus scan to a word
    * histogram; the merge loop iterates on the histogram only).
    * The merge TABLE stays golden-pinned in GoldenSpec (iterative argmax
    * training is not SQL-expressible) and BpeSpec re-derives it with an
    * independent in-memory reference; the DECLARED query is the training
    * CONTRACT (the q148 pattern): vocabulary counts DuckDB recomputes
    * from scratch with the shared pre-tokenizer regex, plus three
    * in-engine certificates of the greedy-merge algorithm itself —
    * merge frequencies are NON-INCREASING by rank (a new pair's count
    * is bounded by the count of the symbol the previous merge fused),
    * encoding every vocabulary word with the table and concatenating
    * the symbols reproduces the word exactly (the BPE round-trip
    * identity), and no encoding is longer than character-split
    * (merges only ever shrink).
    */
  private[graft] val q140_kernel: Q = (s, d) =>
    graft.operators.BpeTrain.trainOnCorpus(s, Tables.documents(s, d), "text", 20)

  val q140_bpe_train: Q = (s, d) => {
    import s.implicits._
    import graft.operators.BpeTrain
    val (words, merges) =
      scanned(BpeTrain.wordCounts(Tables.documents(s, d), "text"))(BpeTrain.train(s, _, 20))
    val monotonicOk = merges.size < 2 ||
      merges.sliding(2).forall(p => p(0).pairCount >= p(1).pairCount)
    val ms = merges.map(m => (m.left, m.right))
    // round-trip + shrink certificates over the whole vocabulary (the
    // encode loop runs on distinct words only — the q141 posture)
    val enc = words.as[(String, Long)].map { case (w, c) =>
      var syms = BpeTrain.symbols(w)
      ms.foreach { case (l, r) => syms = BpeTrain.applyMerge(syms, l, r) }
      (c, syms.mkString == w + "</w>", syms.length <= w.length + 1)
    }.toDF("c", "rt", "shrink")
    val agg = enc.agg(count(lit(1)).as("nw"), sum($"c").as("tw"),
      min($"rt").as("rt"), min($"shrink").as("sh")).head()
    Seq((merges.size.toLong, agg.getLong(0), agg.getLong(1),
      monotonicOk, agg.getBoolean(2), agg.getBoolean(3)))
      .toDF("n_merges", "n_distinct_words", "total_words",
        "monotonic_ok", "round_trip_ok", "compress_ok")
  }

  /** Tokenizer application at corpus scale (north_star tokenizer work —
    * the encode side of [[graft.operators.BpeTrain]]): train the 20-merge
    * table, then encode EVERY DISTINCT WORD exactly once (vocabulary-sized
    * typed map, the 20-merge list a closure constant) and join the
    * per-word token counts back to the per-doc word counts — per-doc BPE
    * token totals and chars-per-token compression without ever re-running
    * the merge loop on corpus rows. The 100 TB shape: corpus tokenized
    * once into (doc, word) counts; everything else is vocabulary-keyed.
    * The per-doc KERNEL surface stays golden-pinned like q140's table;
    * the DECLARED query is the encode CONTRACT (the q148 pattern):
    * corpus word/char totals DuckDB recomputes from scratch with the
    * shared pre-tokenizer, plus the two in-engine bounds every BPE
    * encode must satisfy per document — token count ≤ char count + word
    * count (character-split with `</w>` is the worst case) and ≥ word
    * count (a word is at least one token).
    */
  private[graft] val q141_kernel: Q = (s, d) => {
    import s.implicits._
    import graft.operators.BpeTrain
    // dw feeds BOTH the training histogram and the final per-doc join —
    // uncheckpointed it tokenized + aggregated the corpus twice (once
    // inside the merge loop's materialization, once in the final query)
    val (dw, (hist, merges)) = scanned(Tables.documents(s, d)
      .select($"doc_id", $"lang",
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy($"doc_id", $"lang", $"word").agg(count(lit(1)).as("cnt"))) { dw =>
      val hist = dw.groupBy($"word").agg(sum($"cnt").as("c"))
      (hist, BpeTrain.train(s, hist, 20).map(m => (m.left, m.right)))
    }
    val enc = hist.select($"word").as[String]
      .map(w => (w, BpeTrain.encodeCount(w, merges), w.length))
      .toDF("word", "ntok", "nchr")
    dw.join(enc, "word")
      .groupBy($"doc_id", $"lang")
      .agg(sum($"cnt").cast("long").as("n_words"),
        sum($"cnt" * $"nchr").cast("long").as("n_chars"),
        sum($"cnt" * $"ntok").cast("long").as("n_bpe_tokens"),
        rate(sum($"cnt" * $"nchr") / sum($"cnt" * $"ntok")).as("chars_per_token"))
  }

  val q141_bpe_encode: Q = (s, d) => {
    import s.implicits._
    q141_kernel(s, d).agg(
      count(lit(1)).as("n_docs"),
      sum($"n_words").cast("long").as("total_words"),
      sum($"n_chars").cast("long").as("total_chars"),
      min($"n_bpe_tokens" <= $"n_chars" + $"n_words").as("tokens_le_ok"),
      min($"n_bpe_tokens" >= $"n_words").as("tokens_ge_ok"))
  }

  /** Deterministic epoch reshuffle (north_star curation: the seeded
    * "global shuffle" a training pipeline runs per epoch — every document
    * gets a pseudo-random but REPRODUCIBLE shard and in-shard position,
    * so a re-run or a resumed epoch regenerates byte-identical shard
    * files): the order key is md5(doc_id || ':' || seed) — collision-free
    * at corpus scale and engine-portable — and the shard is its first two
    * hex chars (256 shards). The 100 TB shape: ONE hash exchange on the
    * shard key plus an in-partition sort, exactly the
    * repartition(shard).sortWithinPartitions layout the shard writer
    * needs — no global sort, no driver state; a different seed is an
    * independent permutation (epoch 2 = ':43').
    */
  val q145_epoch_shards: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        md5(concat($"doc_id".cast("string"), lit(":42"))).as("h"))
      .withColumn("shard", substring($"h", 1, 2))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"shard").orderBy($"h")).cast("long"))
      .select($"doc_id", $"shard", $"pos", $"n_chars")
  }

  /** Typed PII detection + redaction (north_star curation: the
    * C4/RefinedWeb-style scrub pass — emails, IPv4 addresses, phone
    * numbers counted and replaced with typed placeholders before
    * training). The fixture corpus carries no PII, so each document is
    * AUGMENTED with deterministic doc_id-derived PII (both engines
    * derive the identical text, so the extraction and the redaction
    * chain are genuinely exercised — the q149-style construct-then-
    * verify convention). Patterns are RE2-compatible (no lookahead) so
    * the DuckDB oracle runs the SAME regexes; redaction applies
    * email → IP → phone in both engines. The 100 TB shape: a narrow
    * projection inside one WholeStageCodegen span — per-row regex
    * work, no shuffle, no state.
    */
  val q151_pii_redaction: Q = (s, d) => {
    import s.implicits._
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phoneRe = "\\b555-\\d{4}\\b"
    val aug = concat($"text",
      lit(" contact user"), $"doc_id", lit("@ex-"), $"source",
      lit(".org ip 10."), $"doc_id" % 256, lit("."),
      ($"doc_id" * 7) % 256, lit("."), ($"doc_id" * 13) % 256,
      lit(" tel 555-"), lit(1000) + ($"doc_id" % 9000))
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      aug, emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")
    Tables.documents(s, d)
      .select($"doc_id", $"source", $"text")
      .select($"doc_id",
        size(regexp_extract_all(aug, lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(aug, lit(ipRe), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(aug, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        redacted.as("redacted"),
        length(redacted).cast("long").as("red_len"))
  }

  /** Exact-substring dedup report (north_star dedup: the
    * suffix-array-class pass of Lee et al. 2022 — every maximal
    * duplicated token span ≥ 8 tokens at ANY offset, keep-one by
    * min-(doc_id, position); q124's fixed 8-token tiles generalized to
    * rolling stride-1 shingles merged into maximal spans). Per document:
    * token count, maximal duplicated spans, duplicated tokens, and the
    * surviving token count a span-cutting pass would keep. The 100 TB
    * shape: digest-keyed shuffle + map-side-combined min-struct first
    * occurrence + one per-document window sort — see
    * [[graft.operators.Dedup.exactSubstringSpans]].
    */
  val q152_substring_dedup: Q = (s, d) =>
    graft.operators.Dedup.exactSubstringStats(
      Tables.documents(s, d), "doc_id", "text", 8)

  /** BM25 ranked retrieval (north_star text analysis — the lexical half
    * of a retrieval stack): top-10 documents per query for three
    * fixed bag-of-words queries, Lucene-form non-negative idf, k1=1.2 /
    * b=0.75. Scores are rounded to 6 decimals on BOTH engines before
    * ranking so summation order cannot flip a rank. The 100 TB shape:
    * broadcast query terms prune the (doc, term) aggregate, corpus
    * stats are one mergeable reduction — see
    * [[graft.operators.Search.bm25TopK]].
    */
  val q153_bm25_topk: Q = (s, d) =>
    graft.operators.Search.bm25TopK(s, Tables.documents(s, d), "doc_id",
      "text", Seq(
        1 -> Seq("dup", "merge", "batch"),
        2 -> Seq("vector", "stream", "window"),
        3 -> Seq("customer", "order", "query")), 10)

  /** Hybrid retrieval by reciprocal-rank fusion (north_star similarity
    * search): the three lowest-id documents retrieve more-like-this via
    * BM25 over their own terms AND cosine over their embeddings
    * (doc_id-keyed vectors); the two depth-20 candidate lists fuse as
    * Σ 1/(60+rank) and the top-10 fused candidates emit per query.
    * Documents without a vector (sf0.1 has 5000 docs / 2000 vectors)
    * still fuse from the lexical system — the full-outer union is the
    * operator's contract. See [[graft.operators.Search.hybridRrf]].
    */
  val q154_hybrid_rrf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val vecs = Tables.embeddings(s, d)
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
    graft.operators.Search.hybridRrf(docs, "doc_id", "text", vecs,
      docs.filter(col("doc_id") < 3), 10)
  }

  /** Count-min-sketch heavy hitters (north_star text analysis — the
    * bounded-memory frequency-estimation family next to q67's HLL /
    * approx-percentile): one mergeable seeded CMS over the corpus token
    * stream (ε = 0.001, δ = 0.01 → a ~100 KB sketch regardless of
    * corpus size), the exact top-10 terms re-derived two-phase for the
    * oracle, and the CONTRACT boolean pins the CMS guarantee per term:
    * estimate ≥ true count (always) and ≤ true + ε·N (w.p. 1−δ; the
    * fixed seed makes the estimate deterministic, so the boolean is
    * stable). At 100 TB only the sketch pass runs — the exact side here
    * exists to oracle it. Driver state is the sketch + 10 rows.
    */
  val q155_cms_heavy_hitters: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(explode(expr("regexp_extract_all(text, '\\\\S+', 0)")).as("term"))
    // the exact counts feed the total, the top-10 and the bound check
    val (exact, total) = scanned(toks.groupBy($"term").agg(count(lit(1)).as("cnt")))(
      _.agg(sum($"cnt")).head().getLong(0))
    val skBytes = toks
      .agg(expr("count_min_sketch(term, 0.001d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(skBytes))
    val slack = math.ceil(0.001 * total).toLong
    val est = udf((t: String) => cms.estimateCount(t))
    exact
      .withColumn("rank",
        row_number().over(Window.orderBy($"cnt".desc, $"term")).cast("long"))
      .filter($"rank" <= 10)
      .withColumn("__est", est($"term"))
      .select($"rank", $"term", $"cnt",
        ($"__est" >= $"cnt" && $"__est" <= $"cnt" + lit(slack)).as("within_bounds"))
  }

  /** Positional phrase search (north_star text analysis — the
    * `match_phrase` retrieval primitive next to q153's ranked BM25):
    * exact token-sequence occurrences for three fixed phrases via the
    * one-aggregate aligned-start vote — see
    * [[graft.operators.Search.phraseSearch]]. All-integer output,
    * hash-exact against the oracle's self-join formulation.
    */
  val q156_phrase_search: Q = (s, d) =>
    graft.operators.Search.phraseSearch(s, Tables.documents(s, d),
      "doc_id", "text", Seq(
        1 -> Seq("hash", "join"),
        2 -> Seq("stream", "window"),
        3 -> Seq("slow", "hash", "batch")))

  val queries: Map[String, Q] = Map(
    "q156_phrase_search" -> q156_phrase_search,
    "q155_cms_heavy_hitters" -> q155_cms_heavy_hitters,
    "q154_hybrid_rrf" -> q154_hybrid_rrf,
    "q153_bm25_topk" -> q153_bm25_topk,
    "q152_substring_dedup" -> q152_substring_dedup,
    "q151_pii_redaction" -> q151_pii_redaction,
    "q145_epoch_shards" -> q145_epoch_shards,
    "q142_bloom_decontamination" -> q142_bloom_decontamination,
    "q141_bpe_encode" -> q141_bpe_encode,
    "q140_bpe_train" -> q140_bpe_train,
    "q139_dsir_weights" -> q139_dsir_weights,
    "q134_quality_classifier" -> q134_quality_classifier,
    "q130_source_kl" -> q130_source_kl,
    "q129_zipf_fit" -> q129_zipf_fit,
    "q127_filter_attrition" -> q127_filter_attrition,
    "q126_mixture_sample" -> q126_mixture_sample,
    "q125_props_scrub" -> q125_props_scrub,
    "q124_span_dedup" -> q124_span_dedup,
    "q100_curation_pipeline" -> q100_curation_pipeline,
    "q98_bigram_surprisal" -> q98_bigram_surprisal,
    "q96_boilerplate" -> q96_boilerplate,
    "q95_packing_plan" -> q95_packing_plan,
    "q94_doc_chunks" -> q94_doc_chunks,
    "q93_contamination" -> q93_contamination,
    "q91_tfidf_topterms" -> q91_tfidf_topterms,
    "q89_stratified_sample" -> q89_stratified_sample,
    "q87_repetition" -> q87_repetition,
    "q79_quality_score" -> q79_quality_score,
    "q75_bpe_tokens" -> q75_bpe_tokens,
    "q48_winnow_fingerprints" -> q48_winnow_fingerprints,
    "q149_curation_composed" -> q149_curation_composed,
    "q150_curation_incremental" -> q150_curation_incremental,
    "q27_dedup_exact" -> q27_dedup_exact,
    "q28_text_stats" -> q28_text_stats,
    "q29_lang_id" -> q29_lang_id,
    "q30_ngram_jaccard" -> q30_ngram_jaccard,
    "q31_minhash_bands" -> q31_minhash_bands,
    "q32_simhash" -> q32_simhash,
  )

  private def markerRe(ms: Seq[String]): String = "\\b(" + ms.mkString("|") + ")\\b"

  val oracle: Map[String, String] = Map(
    "q156_phrase_search" ->
      """WITH ph(phrase_id, w, k) AS (VALUES
        |  (1,'hash',0),(1,'join',1),
        |  (2,'stream',0),(2,'window',1),
        |  (3,'slow',0),(3,'hash',1),(3,'batch',2)),
        |tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |p AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i, t[u.i + 1] AS term
        |      FROM tk, UNNEST(range(0, len(t))) AS u(i)),
        |m AS (SELECT ph.phrase_id, p.doc_id, p.i - ph.k AS start,
        |             count(*) AS hits
        |      FROM p JOIN ph ON p.term = ph.w
        |      GROUP BY 1, 2, 3),
        |L AS (SELECT phrase_id, CAST(count(*) AS BIGINT) AS len
        |      FROM (SELECT DISTINCT phrase_id, k FROM ph) GROUP BY 1)
        |SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |       min(start) AS first_pos
        |FROM m JOIN L USING (phrase_id)
        |WHERE hits = L.len
        |GROUP BY 1, 2""".stripMargin,
    "q155_cms_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS term FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |r AS (SELECT term, cnt,
        |             row_number() OVER (ORDER BY cnt DESC, term) AS rank
        |      FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, term, cnt, TRUE AS within_bounds
        |FROM r WHERE rank <= 10""".stripMargin,
    "q153_bm25_topk" ->
      """WITH q(query_id, term) AS (VALUES
        |  (1,'dup'),(1,'merge'),(1,'batch'),
        |  (2,'vector'),(2,'stream'),(2,'window'),
        |  (3,'customer'),(3,'order'),(3,'query')),
        |tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |tf AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, u.term,
        |              CAST(count(*) AS BIGINT) AS tf
        |       FROM tk, UNNEST(t) AS u(term) GROUP BY 1, 2, 3),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              avg(CAST(len(t) AS DOUBLE)) AS avgdl FROM tk),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
        |       WHERE term IN (SELECT term FROM q) GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |              round(sum(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |                        (tf.tf * 2.2) /
        |                        (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))), 6) AS score
        |       FROM tf JOIN q USING (term) JOIN df USING (term), st
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY score DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
        |FROM r WHERE rank <= 10""".stripMargin,
    "q154_hybrid_rrf" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |q AS (SELECT DISTINCT doc_id AS query_id, u.term
        |      FROM tk, UNNEST(t) AS u(term) WHERE doc_id < 3),
        |tf AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, u.term,
        |              CAST(count(*) AS BIGINT) AS tf
        |       FROM tk, UNNEST(t) AS u(term) GROUP BY 1, 2, 3),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              avg(CAST(len(t) AS DOUBLE)) AS avgdl FROM tk),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
        |       WHERE term IN (SELECT term FROM q) GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |              round(sum(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |                        (tf.tf * 2.2) /
        |                        (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))), 6) AS score
        |       FROM tf JOIN q USING (term) JOIN df USING (term), st
        |       GROUP BY 1, 2),
        |lex AS (SELECT query_id, cand_id, lex_rank FROM (
        |          SELECT query_id, doc_id AS cand_id,
        |                 row_number() OVER (PARTITION BY query_id
        |                                    ORDER BY score DESC, doc_id) AS lex_rank
        |          FROM sc WHERE query_id <> doc_id)
        |        WHERE lex_rank <= 20),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qv AS (SELECT qq.query_id, e.v AS qv
        |       FROM (SELECT DISTINCT query_id FROM q) qq
        |       JOIN e ON e.vec_id = qq.query_id),
        |vr AS (SELECT query_id, cand_id, vec_rank FROM (
        |         SELECT qv.query_id, e.vec_id AS cand_id,
        |                row_number() OVER (PARTITION BY qv.query_id ORDER BY
        |                  list_dot_product(e.v, qv.qv) /
        |                  (sqrt(list_dot_product(e.v, e.v)) *
        |                   sqrt(list_dot_product(qv.qv, qv.qv))) DESC,
        |                  e.vec_id) AS vec_rank
        |         FROM e, qv WHERE e.vec_id <> qv.query_id)
        |       WHERE vec_rank <= 20),
        |f AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
        |             coalesce(l.cand_id, v.cand_id) AS cand_id,
        |             round(coalesce(1.0 / (60.0 + l.lex_rank), 0.0) +
        |                   coalesce(1.0 / (60.0 + v.vec_rank), 0.0), 6) AS rrf
        |      FROM lex l FULL OUTER JOIN vr v
        |        ON l.query_id = v.query_id AND l.cand_id = v.cand_id),
        |r AS (SELECT query_id, cand_id, rrf,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY rrf DESC, cand_id) AS rank
        |      FROM f)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, rrf
        |FROM r WHERE rank <= 10""".stripMargin,
    "q152_substring_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |n0 AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t),
        |f AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) >= 8),
        |sp AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
        |              md5(array_to_string(tk[i + 1 : i + 8], ' ')) AS h
        |       FROM f, UNNEST(range(0, n - 7)) AS u(i)),
        |r AS (SELECT doc_id, i,
        |             row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
        |      FROM sp),
        |dup AS (SELECT doc_id, i FROM r WHERE rn > 1),
        |g AS (SELECT doc_id, i,
        |             CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |                  OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
        |                  THEN 1 ELSE 0 END AS brk
        |      FROM dup),
        |isl AS (SELECT doc_id, i,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        |        FROM g),
        |spn AS (SELECT doc_id, island, min(i) AS s, max(i) + 7 AS e
        |        FROM isl GROUP BY doc_id, island),
        |a AS (SELECT doc_id, count(*) AS n_dup_spans, sum(e - s + 1) AS n_dup_tokens
        |      FROM spn GROUP BY doc_id)
        |SELECT n0.doc_id, n0.n_tokens,
        |       CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |       CAST(coalesce(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
        |       CAST(n0.n_tokens - coalesce(a.n_dup_tokens, 0) AS BIGINT) AS n_kept_tokens
        |FROM n0 LEFT JOIN a USING (doc_id)""".stripMargin,
    "q151_pii_redaction" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id || '@ex-' || source ||
        |         '.org ip 10.' || (doc_id % 256) || '.' ||
        |         ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256) ||
        |         ' tel 555-' || (1000 + (doc_id % 9000)) AS a
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(a, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(a, '\b555-\d{4}\b')) AS BIGINT) AS n_phones,
        |       regexp_replace(regexp_replace(regexp_replace(a,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |         '\b555-\d{4}\b', '<PHONE>', 'g') AS redacted,
        |       CAST(length(regexp_replace(regexp_replace(regexp_replace(a,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |         '\b555-\d{4}\b', '<PHONE>', 'g')) AS BIGINT) AS red_len
        |FROM aug""".stripMargin,
    // q134/q140/q141 contract oracles (the q148 pattern): DuckDB
    // recomputes the corpus-side counts from scratch — the q127 weak-label
    // heuristic for q134, the shared '[a-z]+' pre-tokenizer for the BPE
    // pair — and pins the in-engine certificates TRUE
    "q134_quality_classifier" ->
      s"""WITH s AS (SELECT doc_id, source,
         |        CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
         |        CAST(len(regexp_extract_all(lower(text), '${markerRe(graft.functions.TextFunctions.enMarkers)}')) AS BIGINT) AS n_stop,
         |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
         |        CAST(length(text) AS BIGINT) AS len
         |      FROM documents)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN n_tok >= 5 AND CAST(n_punct AS DOUBLE) / len <= 0.1
         |                      AND n_stop > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_label_keep,
         |       TRUE AS acc_ok
         |FROM s GROUP BY 1""".stripMargin,
    "q140_bpe_train" ->
      """WITH w AS (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |           FROM documents)
        |SELECT CAST(20 AS BIGINT) AS n_merges,
        |       count(DISTINCT word) AS n_distinct_words,
        |       count(*) AS total_words,
        |       TRUE AS monotonic_ok, TRUE AS round_trip_ok, TRUE AS compress_ok
        |FROM w""".stripMargin,
    "q141_bpe_encode" ->
      """WITH w AS (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |           FROM documents),
        |d AS (SELECT doc_id, count(*) AS nw, sum(length(word)) AS nc FROM w GROUP BY 1)
        |SELECT count(*) AS n_docs,
        |       CAST(sum(nw) AS BIGINT) AS total_words,
        |       CAST(sum(nc) AS BIGINT) AS total_chars,
        |       TRUE AS tokens_le_ok, TRUE AS tokens_ge_ok
        |FROM d""".stripMargin,
    // q31/q32 contract oracles (the q148 pattern): DuckDB replays the
    // planted-twin construction — n_near_twins is recomputed from
    // scratch with DuckDB's own shingling (the q30 oracle's definition)
    // and must land on the same count; the booleans are pinned TRUE
    "q31_minhash_bands" ->
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |p AS (SELECT doc_id, text FROM d0
        |      UNION ALL SELECT doc_id + 1000000000000000, text || ' zyxappend' FROM d0),
        |toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM p),
        |f AS (SELECT * FROM toks WHERE len(t) >= 3),
        |sh AS (SELECT doc_id,
        |              list_distinct([array_to_string(t[i:i+2], ' ')
        |                             for i in range(1, len(t)-1)]) AS s
        |       FROM f),
        |j AS (SELECT a.doc_id,
        |             len(list_intersect(a.s, b.s)) * 1.0
        |               / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000000000000
        |      WHERE a.doc_id < 1000000000000000)
        |SELECT (SELECT count(*) FROM d0) AS n_docs,
        |       (SELECT count(*) FROM j WHERE jac >= 0.8) AS n_near_twins,
        |       TRUE AS recall_ok""".stripMargin,
    "q32_simhash" ->
      """WITH d0 AS (SELECT doc_id FROM documents)
        |SELECT (SELECT count(*) FROM d0) AS n_docs,
        |       (SELECT count(*) FROM d0 a JOIN d0 b ON b.doc_id = a.doc_id + 1)
        |         AS n_adj_pairs,
        |       TRUE AS twin_gap_ok, TRUE AS sep_ok""".stripMargin,
    "q48_winnow_fingerprints" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |       (SELECT count(*) FROM documents WHERE length(text) >= 11)
        |         AS n_elig_pairs,
        |       TRUE AS guarantee_ok""".stripMargin,
    "q149_curation_composed" ->
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |crawl AS (
        |  SELECT doc_id, text FROM d0
        |  UNION ALL SELECT doc_id + 1000000000000000, text FROM d0 WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 2000000000000000, text || ' zyxappend' FROM d0
        |            WHERE doc_id % 4 = 0)
        |SELECT (SELECT count(*) FROM crawl) AS n_crawl,
        |       (SELECT count(DISTINCT md5(text)) FROM crawl) AS n_after_exact,
        |       (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0)
        |         AS n_twin_vecs,
        |       TRUE AS neardup_ok, TRUE AS decontam_ok,
        |       TRUE AS quality_ok, TRUE AS packing_ok""".stripMargin,
    "q150_curation_incremental" ->
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |crawl AS (
        |  SELECT doc_id, text FROM d0
        |  UNION ALL SELECT doc_id + 1000000000000000, text FROM d0 WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 2000000000000000, text || ' zyxappend' FROM d0
        |            WHERE doc_id % 4 = 0)
        |SELECT (SELECT count(*) FROM crawl) AS n_crawl,
        |       (SELECT count(DISTINCT md5(text)) FROM crawl) AS n_after_exact,
        |       TRUE AS stream_equals_batch_ok, TRUE AS packing_ok""".stripMargin,
    "q145_epoch_shards" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |                  md5(CAST(doc_id AS VARCHAR) || ':42') AS h
        |           FROM documents)
        |SELECT doc_id, substr(h, 1, 2) AS shard,
        |       CAST(row_number() OVER (PARTITION BY substr(h, 1, 2) ORDER BY h)
        |            AS BIGINT) AS pos,
        |       n_chars
        |FROM h""".stripMargin,
    "q139_dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang, source,
        |                  UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |           FROM documents),
        |bk AS (SELECT doc_id, lang, source, substr(md5(term), 1, 2) AS b FROM t),
        |db AS (SELECT doc_id, lang, source, b, count(*) AS n FROM bk GROUP BY 1, 2, 3, 4),
        |raw AS (SELECT b, sum(n) AS cr FROM db GROUP BY 1),
        |tgt AS (SELECT b, sum(n) AS ct FROM db WHERE lang = 'en' GROUP BY 1),
        |rt AS (SELECT sum(cr) AS rt FROM raw),
        |tt AS (SELECT sum(ct) AS tt FROM tgt),
        |r AS (SELECT raw.b,
        |             ln(((coalesce(ct, 0) + 1.0) / (tt + 256.0))
        |                / ((cr + 1.0) / (rt + 256.0))) AS lr
        |      FROM raw LEFT JOIN tgt USING (b), rt, tt)
        |SELECT doc_id, lang, source, CAST(sum(n) AS BIGINT) AS n_tok,
        |       round(sum(n * lr) / sum(n), 4) + 0.0 AS w
        |FROM db JOIN r USING (b)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q129_zipf_fit" ->
      """WITH t AS (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
        |f AS (SELECT term, count(*) AS c FROM t GROUP BY 1),
        |k AS (SELECT c, term FROM f ORDER BY c DESC, term LIMIT 1000),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk FROM k)
        |SELECT count(*) AS n_terms,
        |       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4) AS slope,
        |       round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4) AS intercept
        |FROM r""".stripMargin,
    "q130_source_kl" ->
      """WITH t AS (SELECT source, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
        |st AS (SELECT source, term, count(*) AS cs FROM t GROUP BY 1, 2),
        |gl AS (SELECT term, sum(cs) AS cg FROM st GROUP BY 1),
        |g AS (SELECT sum(cs) AS gt FROM st),
        |tt AS (SELECT source, sum(cs) AS ts FROM st GROUP BY 1)
        |SELECT st.source, CAST(max(tt.ts) AS BIGINT) AS n_tokens,
        |       round(sum((CAST(cs AS DOUBLE) / tt.ts)
        |             * ln((CAST(cs AS DOUBLE) / tt.ts) / (CAST(cg AS DOUBLE) / g.gt))), 4) AS kl
        |FROM st JOIN gl USING (term) JOIN tt USING (source), g
        |GROUP BY 1""".stripMargin,
    "q124_span_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |f AS (SELECT doc_id, tk, len(tk) // 8 AS ns FROM t WHERE len(tk) >= 8),
        |sp AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
        |              md5(array_to_string(tk[1 + i * 8 : i * 8 + 8], ' ')) AS h
        |       FROM f, UNNEST(range(0, ns)) AS u(i)),
        |r AS (SELECT doc_id, i,
        |             (row_number() OVER (PARTITION BY h ORDER BY doc_id, i) > 1) AS is_dup
        |      FROM sp)
        |SELECT doc_id, count(*) AS n_spans,
        |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |       round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac
        |FROM r GROUP BY 1""".stripMargin,
    "q125_props_scrub" ->
      """SELECT event_id, event_type,
        |       regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
        |       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked
        |FROM events""".stripMargin,
    "q126_mixture_sample" ->
      """WITH t AS (SELECT doc_id, source, text,
        |                  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT source, count(*) AS cnt FROM t GROUP BY 1),
        |z AS (SELECT sum(sqrt(CAST(cnt AS DOUBLE))) AS z FROM c),
        |g AS (SELECT source, cnt,
        |             CAST(floor(round(sqrt(CAST(cnt AS DOUBLE)) / z * 300, 6)) AS BIGINT) AS target
        |      FROM c, z),
        |r AS (SELECT doc_id, source, n_tok,
        |             row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
        |      FROM t)
        |SELECT source, max(cnt) AS cnt, max(target) AS target,
        |       count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM r JOIN g USING (source) WHERE rn <= target GROUP BY 1""".stripMargin,
    "q127_filter_attrition" ->
      s"""WITH s AS (SELECT doc_id, text,
         |        CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
         |        CAST(len(regexp_extract_all(lower(text), '${markerRe(graft.functions.TextFunctions.enMarkers)}')) AS BIGINT) AS n_stop,
         |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
         |        CAST(length(text) AS BIGINT) AS len
         |      FROM documents),
         |f AS (SELECT doc_id, text, n_tok, (n_tok >= 5) AS f1,
         |             (CAST(n_punct AS DOUBLE) / len <= 0.1) AS f2, (n_stop > 0) AS f3
         |      FROM s),
         |k AS (SELECT min(doc_id) AS doc_id FROM f WHERE f1 AND f2 AND f3 GROUP BY md5(text)),
         |r AS (SELECT f.n_tok,
         |             CASE WHEN NOT f1 THEN 0 WHEN NOT f2 THEN 1 WHEN NOT f3 THEN 2
         |                  WHEN k.doc_id IS NULL THEN 3 ELSE 4 END AS reached
         |      FROM f LEFT JOIN k ON f.doc_id = k.doc_id),
         |e AS (SELECT reached, count(*) AS c, sum(n_tok) AS t FROM r GROUP BY 1),
         |x AS (SELECT c, t, UNNEST(range(0, reached + 1)) AS stage FROM e)
         |SELECT CAST(stage AS INTEGER) AS stage,
         |       ['all','min_tokens','punct_ratio','stopwords','dedup_first'][CAST(stage AS INTEGER) + 1] AS stage_name,
         |       CAST(sum(c) AS BIGINT) AS n_docs, CAST(sum(t) AS BIGINT) AS n_tokens
         |FROM x GROUP BY 1, 2""".stripMargin,
    "q100_curation_pipeline" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, source, text,
         |         CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tok,
         |         CAST(len(regexp_extract_all(lower(text), '${markerRe(graft.functions.TextFunctions.enMarkers)}')) AS INTEGER) AS n_stop,
         |         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INTEGER) AS n_punct,
         |         CAST(length(text) AS INTEGER) AS len
         |  FROM documents),
         |f AS (SELECT * FROM scored
         |      WHERE n_tok >= 5 AND CAST(n_punct AS DOUBLE) / len <= 0.1 AND n_stop > 0),
         |keep AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text))
         |SELECT lang, source, count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       round(avg(CAST(n_tok AS DOUBLE)), 4) AS avg_tokens
         |FROM f JOIN keep USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,
    "q98_bigram_surprisal" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
        |f AS (SELECT * FROM t WHERE len(w) >= 2),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM f, UNNEST(range(1, len(w))) AS u(i)),
        |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |bi AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |sc AS (SELECT bg.doc_id, -ln(CAST(bi.c2 AS DOUBLE) / uni.c1) AS s
        |       FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(s), 4) AS avg_surprisal,
        |       round(max(s), 4) AS max_surprisal
        |FROM sc GROUP BY 1""".stripMargin,
    "q94_doc_chunks" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |k AS (SELECT doc_id, tk, 1 + greatest(0, (len(tk) - 64 + 47) // 48) AS n_chunks
        |      FROM t WHERE len(tk) > 0),
        |c AS (SELECT doc_id, tk, UNNEST(range(0, n_chunks)) AS ci FROM k)
        |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
        |       CAST(1 + ci * 48 AS BIGINT) AS start_tok,
        |       CAST(len(tk[1 + ci * 48 : ci * 48 + 64]) AS BIGINT) AS n_chunk_tok,
        |       md5(array_to_string(tk[1 + ci * 48 : ci * 48 + 64], ' ')) AS chunk_hash
        |FROM c""".stripMargin,
    "q95_packing_plan" ->
      """WITH t AS (SELECT doc_id, source,
        |                  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                              ROWS UNBOUNDED PRECEDING) - n_tok AS cum_before
        |      FROM t)
        |SELECT source, CAST(cum_before // 2048 AS BIGINT) AS bin, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(n_tok) AS DOUBLE) / 2048, 4) AS fill
        |FROM c GROUP BY 1, 2""".stripMargin,
    "q96_boilerplate" ->
      """WITH t AS (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS t FROM documents),
        |f AS (SELECT * FROM t WHERE len(t) >= 5),
        |sh AS (SELECT doc_id, source,
        |              list_distinct([array_to_string(t[i:i+4], ' ')
        |                             for i in range(1, len(t)-3)]) AS s
        |       FROM f),
        |ex AS (SELECT source, doc_id, UNNEST(s) AS shingle FROM sh),
        |df AS (SELECT source, shingle, count(*) AS df FROM ex GROUP BY 1, 2),
        |r AS (SELECT source, shingle, df,
        |             row_number() OVER (PARTITION BY source ORDER BY df DESC, shingle) AS rn
        |      FROM df WHERE df >= 2)
        |SELECT source, shingle, df, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 3""".stripMargin,
    "q91_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |              FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS tfidf
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, df, tfidf,
        |             row_number() OVER (PARTITION BY doc_id
        |                                ORDER BY tfidf DESC, term) AS rn
        |      FROM w)
        |SELECT doc_id, term, tf, df, round(tfidf, 4) AS tfidf, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 3""".stripMargin,
    "q142_bloom_decontamination" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |f AS (SELECT * FROM t WHERE len(t) >= 3),
        |sh AS (SELECT doc_id,
        |              list_distinct([array_to_string(t[i:i+2], ' ')
        |                             for i in range(1, len(t)-1)]) AS s
        |       FROM f),
        |ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
        |ev AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 13 = 0),
        |corp AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 13 <> 0)
        |SELECT corp.doc_id, count(*) AS n_shared
        |FROM corp JOIN ev USING (shingle)
        |GROUP BY 1""".stripMargin,
    "q93_contamination" ->
      """WITH t AS (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS t FROM documents),
        |f AS (SELECT * FROM t WHERE len(t) >= 5),
        |sh AS (SELECT doc_id, source,
        |              list_distinct([array_to_string(t[i:i+4], ' ')
        |                             for i in range(1, len(t)-3)]) AS s
        |       FROM f),
        |ex AS (SELECT source, doc_id, UNNEST(s) AS shingle FROM sh)
        |SELECT a.source AS src_a, a.doc_id AS a_id,
        |       b.source AS src_b, b.doc_id AS b_id, count(*) AS n_shared
        |FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.source < b.source
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    "q89_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang, source,
        |                  row_number() OVER (PARTITION BY lang, source
        |                                     ORDER BY md5(text), doc_id) AS rn
        |           FROM documents)
        |SELECT lang, source, doc_id, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 3""".stripMargin,
    "q87_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |x AS (SELECT doc_id,
        |             CAST(len(tk) AS BIGINT) AS n_tok,
        |             CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
        |             CAST(len(list_distinct(list_transform(range(1, len(tk)),
        |                    i -> tk[i] || ' ' || tk[i + 1]))) AS BIGINT) AS n_uniq_2g
        |      FROM t)
        |SELECT doc_id, n_tok, n_uniq, n_uniq_2g,
        |       round(1.0 - CAST(n_uniq AS DOUBLE) / n_tok, 4) AS dup_tok_ratio,
        |       round(1.0 - CAST(n_uniq_2g AS DOUBLE) / nullif(n_tok - 1, 0), 4) AS dup_2g_ratio,
        |       CASE WHEN 1.0 - CAST(n_uniq AS DOUBLE) / n_tok > 0.6 THEN 'repetitive'
        |            WHEN 1.0 - CAST(n_uniq_2g AS DOUBLE) / nullif(n_tok - 1, 0) > 0.3 THEN 'loopy'
        |            ELSE 'keep' END AS verdict
        |FROM x""".stripMargin,
    "q79_quality_score" ->
      s"""WITH x AS (SELECT doc_id,
         |                  CAST(length(text) AS BIGINT) AS len,
         |                  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
         |                  CAST(len(regexp_extract_all(lower(text), '${markerRe(graft.functions.TextFunctions.enMarkers)}')) AS BIGINT) AS n_stop,
         |                  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
         |           FROM documents)
         |SELECT doc_id,
         |       round(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stopword_ratio,
         |       round(CAST(n_punct AS DOUBLE) / len, 4) AS punct_ratio,
         |       round(CAST(len AS DOUBLE) / n_tok, 4) AS chars_per_tok,
         |       CASE WHEN n_tok < 5 THEN 'too_short'
         |            WHEN CAST(n_punct AS DOUBLE) / len > 0.1 THEN 'punct_heavy'
         |            WHEN n_stop = 0 THEN 'no_stopwords'
         |            ELSE 'keep' END AS quality
         |FROM x""".stripMargin,
    "q75_bpe_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9'']+|\s+')) AS BIGINT) AS n_bpe,
        | CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        | CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
        | round(CAST(len(regexp_extract_all(text, '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9'']+|\s+')) AS DOUBLE)
        |       / len(regexp_extract_all(text, '\S+')), 4) AS fertility
        |FROM documents""".stripMargin,
    "q27_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q28_text_stats" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
        | CAST(length(text) AS INTEGER) AS len,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha,
        | CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INTEGER) AS n_punct,
        | regexp_matches(text, '[0-9]') AS has_digit,
        | md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        | CAST(length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS len_nospace,
        | round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |       / length(text), 4) AS alpha_ratio,
        | round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |       / len(regexp_extract_all(text, '\S+')), 4) AS avg_tok_len
        |FROM documents""".stripMargin,
    "q29_lang_id" ->
      s"""SELECT doc_id, lang,
         | CAST(len(regexp_extract_all(lower(text), '${markerRe(graft.functions.TextFunctions.enMarkers)}')) AS INTEGER) AS en_n,
         | CAST(len(regexp_extract_all(lower(text), '${markerRe(graft.functions.TextFunctions.esMarkers)}')) AS INTEGER) AS es_n,
         | CAST(len(regexp_extract_all(lower(text), '${markerRe(graft.functions.TextFunctions.deMarkers)}')) AS INTEGER) AS de_n,
         | CAST(len(regexp_extract_all(lower(text), '${markerRe(graft.functions.TextFunctions.frMarkers)}')) AS INTEGER) AS fr_n,
         | CASE WHEN en_n >= es_n AND en_n >= de_n AND en_n >= fr_n AND en_n > 0 THEN 'en'
         |      WHEN es_n >= de_n AND es_n >= fr_n AND es_n > 0 THEN 'es'
         |      WHEN de_n >= fr_n AND de_n > 0 THEN 'de'
         |      WHEN fr_n > 0 THEN 'fr'
         |      ELSE 'und' END AS pred
         |FROM documents""".stripMargin,
    "q30_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS t FROM documents),
        |f AS (SELECT * FROM toks WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, source,
        |              list_distinct([array_to_string(t[i:i+2], ' ')
        |                             for i in range(1, len(t)-1)]) AS s
        |       FROM f),
        |ex AS (SELECT source, doc_id, len(s) AS sz, UNNEST(s) AS shingle FROM sh),
        |c AS (SELECT a.source AS source, a.doc_id AS a_id, b.doc_id AS b_id,
        |             a.sz AS sza, b.sz AS szb, count(*) AS common
        |      FROM ex a JOIN ex b
        |        ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2, 3, 4, 5)
        |SELECT source, a_id, b_id,
        |       round(CAST(common AS DOUBLE) / (sza + szb - common), 6) AS jaccard
        |FROM c""".stripMargin,
  )
}
