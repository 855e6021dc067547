package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge-table induction (north_star tokenizer work — the byte-pair
  * encoding merge loop of Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"; the vocabulary-training
  * counterpart of the q75 pre-tokenizer): repeatedly find the most
  * frequent adjacent symbol pair across the corpus and fuse it.
  *
  * The 100 TB shape: the corpus is scanned ONCE into a word histogram
  * (vocabulary-sized — ~10⁷ rows however big the corpus, since the merge
  * loop only needs distinct words and their counts). Every iteration then
  * runs on that histogram alone: one explode over adjacent pairs + one
  * mergeable hash aggregate + a 1-row argmax collect (count desc, pair
  * lexicographic — deterministic), and a distributed map rewriting each
  * word's symbol sequence. Nothing per-iteration touches the corpus, and
  * per-iteration lineage is truncated with `localCheckpoint` so 50-merge
  * runs don't accrete a 50-deep plan.
  *
  * Words are split to characters with a trailing `</w>` end-of-word
  * symbol (the classic formulation), and merges apply greedily
  * left-to-right without overlap — `applyMerge("aaa", a+a)` yields
  * `[aa, a]`, matching the reference algorithm.
  */
object BpeTrain {

  /** Greedy non-overlapping left-to-right merge of adjacent (l, r). */
  def applyMerge(syms: IndexedSeq[String], l: String, r: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** A word's initial symbols plus the end-of-word marker: one symbol per
    * code point, so a character outside the BMP stays one symbol instead
    * of two lone surrogate halves (which UTF-8-encode as '?').
    */
  private[graft] def symbols(word: String): IndexedSeq[String] =
    word.codePoints().toArray.toIndexedSeq
      .map(cp => new String(Character.toChars(cp))) :+ "</w>"

  /** One chosen merge. */
  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** Symbol comparison for the argmax tie-break: UTF-8 BYTE order (via
    * UTF8String), exactly the order the original distributed
    * orderBy($"l", $"r") sorted by. Java String compareTo is UTF-16
    * code-unit order, which disagrees on symbols outside the BMP (their
    * surrogate code units sort below U+E000–U+FFFF, their UTF-8 bytes
    * above) — so a String-order tie-break could pick a different merge
    * than the pinned Spark sort (r16, ADVICE).
    */
  private def u8cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** (count desc, left byte-lexicographic, right byte-lexicographic) —
    * true iff x wins the argmax against y. */
  private[graft] def argmaxWins(x: ((String, String), Long), y: ((String, String), Long)): Boolean = {
    val (((xl, xr), xc), ((yl, yr), yc)) = (x, y)
    if (xc != yc) xc > yc
    else {
      val cl = u8cmp(xl, yl)
      if (cl != 0) cl < 0 else u8cmp(xr, yr) <= 0
    }
  }

  /** Train `nMerges` BPE merges on a (word, c) histogram.
    *
    * Per-iteration shape (§1.2 "the distributed algorithm" + §2.4
    * "remove shuffles outright"): the adjacent-pair counts reduce in ONE
    * narrow mapPartitions pass — each task folds its slice of the
    * vocabulary into a local (l, r) → Σc map, partials merge
    * executor-side (`treeReduce`), and the driver takes the argmax with
    * the deterministic (count desc, pair lexicographic) tie-break. The
    * partial maps are BOUNDED BY CONSTRUCTION, not by data: distinct
    * pairs ≤ (|alphabet| + k)² after k merges (a few thousand entries at
    * any corpus size) — the same bounded-side-input contract as the IVF
    * centroid collects. Pending merges are applied INSIDE the count
    * closure instead of as per-merge Dataset.map plan nodes, so the loop
    * plans one fixed-size query per iteration (the old
    * explode → shuffle → TakeOrdered per merge was measured
    * planning-bound: 52 jobs, 3.2 s of driver gaps at sf0.1). Counts are
    * exact integer sums and the tie-break is unchanged, so the merge
    * table is bit-identical to the old formulation (BpeSpec re-derives
    * it against an independent in-memory reference).
    *
    * The driver-side argmax holds the merged pair-count map, bounded by
    * (|alphabet| + nMerges)² — a few thousand entries for alphabetic
    * corpora, but MILLIONS for large-alphabet (CJK) corpora where the
    * bound itself explodes. `maxDriverPairs` guards that map: the
    * treeReduce merge is SIZE-CAPPED (an intermediate merge can only
    * exceed the cap when the total distinct-pair count does, so the cap
    * fires deterministically, merge-order-independent, at zero cost in
    * the common case), and once fired every iteration reduces pair
    * counts distributed (reduceByKey) collecting only one per-partition
    * argmax candidate — same counts, same byte-order tie-break, merge
    * table identical (BpeSpec pins the two paths equal); the driver
    * never holds an over-cap pair map (r16, ADVICE).
    *
    * @param words DataFrame with a string `word` column and long `c` count
    * @return the ordered merge table
    */
  def train(spark: SparkSession, words: DataFrame, nMerges: Int,
      maxDriverPairs: Long = 1L << 20): Seq[Merge] = {
    import spark.implicits._
    // Large-alphabet guard for the merged map (size-capped merge, no
    // extra sizing job): intermediate merge sizes are unions of subsets
    // of the total distinct-pair set, so an intermediate can exceed
    // `maxDriverPairs` iff the TOTAL does — the cap fires
    // deterministically, independent of treeReduce's merge order. Once
    // fired, this and every later iteration use the distributed argmax.
    var driverArgmax = maxDriverPairs > 0
    // the most frequent adjacent pair of `frame` with `ms` applied; its
    // first job reads every partition of the frame
    def topPair(frame: DataFrame, ms: List[(String, String)]): Option[((String, String), Long)] = {
      // large-alphabet path: pair counts reduce DISTRIBUTED (reduceByKey)
      // and only one argmax candidate per partition reaches the driver —
      // the driver never holds the pair map (r16, ADVICE)
      def distributedTop(): Option[((String, String), Long)] = {
        val tops = frame.as[(Seq[String], Long)].rdd
          .flatMap { case (syms0, c) =>
            var syms = syms0.toIndexedSeq
            ms.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
            (0 until math.max(0, syms.length - 1)).iterator
              .map(i => ((syms(i), syms(i + 1)), c))
          }
          .reduceByKey(_ + _)
          .mapPartitions(it =>
            it.reduceOption((x, y) => if (argmaxWins(x, y)) x else y).iterator)
          .collect()
        tops.reduceOption((x, y) => if (argmaxWins(x, y)) x else y)
      }
      // argmax with the deterministic tie-break: count desc, then (l, r)
      // byte-lexicographic — identical to the old orderBy(cnt desc, l, r)
      if (driverArgmax) {
        val partials = frame.as[(Seq[String], Long)].rdd.mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
          it.foreach { case (syms0, c) =>
            var syms = syms0.toIndexedSeq
            ms.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
            var i = 0
            while (i + 1 < syms.length) {
              val key = (syms(i), syms(i + 1))
              m.update(key, m.getOrElse(key, 0L) + c)
              i += 1
            }
          }
          Iterator.single(m)
        }
        val cap = maxDriverPairs
        val counts: Option[scala.collection.mutable.HashMap[(String, String), Long]] =
          if (partials.getNumPartitions == 0)
            Some(scala.collection.mutable.HashMap.empty[(String, String), Long])
          else partials
            .map(m => if (m.size > cap) None else Some(m))
            .treeReduce({
              case (Some(a), Some(b)) =>
                b.foreach { case (kk, v) => a.update(kk, a.getOrElse(kk, 0L) + v) }
                if (a.size > cap) None else Some(a)
              case _ => None
            }, depth = 2)
        counts match {
          case Some(m) => m.iterator.reduceOption((x, y) => if (argmaxWins(x, y)) x else y)
          case None => // the pair map outgrew the cap — stay distributed
            driverArgmax = false
            distributedTop()
        }
      } else distributedTop()
    }
    if (nMerges < 1) return Seq.empty
    var (base, top) = graft.Materialize.scanned(words.select($"word", $"c")
      .as[(String, Long)]
      .map { case (w, c) => (symbols(w), c) }
      .toDF("syms", "c"))(topPair(_, Nil))
    // pending merges since the last checkpoint: applied in-closure by the
    // count pass, folded into the frame every few merges so the closure
    // stays small and lineage flat
    var pending = List.empty[(String, String)]
    def fold(): Unit = if (pending.nonEmpty) {
      val ms = pending.reverse
      val next = base.as[(Seq[String], Long)]
        .map { case (syms, c) =>
          var s = syms.toIndexedSeq
          ms.foreach { case (l, r) => s = applyMerge(s, l, r) }
          (s, c)
        }
        .toDF("syms", "c")
        .localCheckpoint(true)
      base.unpersist()
      base = next
      pending = Nil
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var k = 1
    var done = false
    while (!done) top match {
      case Some(((l, r), cnt)) if cnt >= 2 =>
        merges += Merge(k, l, r, cnt)
        pending = (l, r) :: pending
        // fold every 8 merges: the closure applies pending merges
        // either way, folding only bounds per-row closure work — the
        // cadence cannot affect the counts
        if (k % 8 == 0) fold()
        k += 1
        if (k <= nMerges) top = topPair(base, pending.reverse) else done = true
      case _ => done = true
    }
    base.unpersist()
    merges.toSeq
  }

  /** Token count of one word under a trained merge table, applying the
    * merges in rank order (the BPE encode rule). */
  def encodeCount(word: String, merges: Seq[(String, String)]): Int = {
    var syms = symbols(word)
    merges.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
    syms.length
  }

  /** The word histogram (`word`, `c`) of a corpus text column: its
    * lowercase `[a-z]+` runs.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))

  /** Train on a corpus text column: ONE corpus scan builds the word
    * histogram; the loop runs on the histogram only.
    */
  def trainOnCorpus(spark: SparkSession, docs: DataFrame, textCol: String,
                    nMerges: Int): DataFrame = {
    import spark.implicits._
    train(spark, wordCounts(docs, textCol), nMerges).toDF()
      .select($"rank", $"left", $"right",
        concat($"left", $"right").as("merged"), $"pairCount".as("pair_count"))
  }
}
