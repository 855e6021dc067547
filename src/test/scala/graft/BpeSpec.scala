package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BpeTrain

/** BPE merge-table induction checked against an INDEPENDENT in-memory
  * reference implementation of the Sennrich et al. 2016 algorithm (plain
  * Scala maps, no Spark), plus unit checks of the greedy-merge contract.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Reference greedy non-overlapping merge, written recursively (a
    * different shape than the operator's while-loop on purpose). */
  private def refApply(syms: List[String], l: String, r: String): List[String] =
    syms match {
      case a :: b :: rest if a == l && b == r => (l + r) :: refApply(rest, l, r)
      case a :: rest                          => a :: refApply(rest, l, r)
      case Nil                                => Nil
    }

  /** Reference BPE trainer on a word histogram. */
  private def refTrain(words: Map[String, Long], n: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[List[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toList :+ "</w>" }(_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var stop = false
    while (k <= n && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach(p => counts(p) += c)
      }
      if (counts.isEmpty || counts.values.max < 2) stop = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((k, l, r, c))
        vocab = vocab.groupMapReduce { case (syms, _) => refApply(syms, l, r) }(_._2)(_ + _)
        k += 1
      }
    }
    out.toSeq
  }

  test("applyMerge is greedy left-to-right without overlap") {
    assert(BpeTrain.applyMerge(Vector("a", "a", "a"), "a", "a") == Vector("aa", "a"))
    assert(BpeTrain.applyMerge(Vector("a", "a", "a", "a"), "a", "a") == Vector("aa", "aa"))
    assert(BpeTrain.applyMerge(Vector("x", "a", "b", "a", "b"), "a", "b") ==
      Vector("x", "ab", "ab"))
    assert(BpeTrain.applyMerge(Vector("ab", "c"), "a", "b") == Vector("ab", "c"))
    assert(BpeTrain.applyMerge(Vector.empty[String], "a", "b") == Vector.empty[String])
  }

  test("trainOnCorpus matches the in-memory reference on the sf0.001 fixture") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val words = docs
      .selectExpr("explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS word")
      .groupBy($"word").count()
      .as[(String, Long)].collect().toMap
    val expected = refTrain(words, 20)
    val got = BpeTrain.trainOnCorpus(spark, docs, "text", 20)
      .as[(Int, String, String, String, Long)]
      .collect().toSeq
      .map { case (k, l, r, _, c) => (k, l, r, c) }
    assert(got == expected)
  }

  test("encodeCount applies merges in rank order") {
    // merges: (a,b)->ab then (ab,</w>)->ab</w>
    val merges = Seq(("a", "b"), ("ab", "</w>"))
    assert(BpeTrain.encodeCount("ab", merges) == 1)      // [ab</w>]
    assert(BpeTrain.encodeCount("aab", merges) == 2)     // [a, ab</w>]
    assert(BpeTrain.encodeCount("ba", merges) == 3)      // [b, a, </w>]
    assert(BpeTrain.encodeCount("x", Seq.empty) == 2)    // [x, </w>]
  }

  test("merges stop when no pair repeats") {
    import spark.implicits._
    val words = Seq(("ab", 1L), ("cd", 1L)).toDF("word", "c")
    val merges = BpeTrain.train(spark, words, 10)
    assert(merges.isEmpty)
  }

  test("distributed argmax fallback (large-alphabet guard) yields the identical merge table") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val words = docs
      .selectExpr("explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS word")
      .groupBy($"word").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    // maxDriverPairs = 0 forces every iteration onto the distributed
    // reduceByKey + per-partition-argmax path the CJK-alphabet guard
    // routes to; the merge table must be bit-identical to the driver path
    val driver = BpeTrain.train(spark, words, 12)
    val dist = BpeTrain.train(spark, words, 12, maxDriverPairs = 0L)
    assert(dist == driver)
  }

  test("argmax tie-break is UTF-8 byte order (the original Spark sort), not UTF-16 code-unit order") {
    // on a count tie, the comparator must rank symbols the way the
    // original orderBy($"l", $"r") did — UTF8String BYTE order. An
    // unpaired high surrogate ('\uD835', the left half of a split
    // non-BMP symbol) UTF-8-encodes as the replacement '?' (0x3F), so
    // byte order puts it BELOW 'z' (0x7A) while UTF-16 code-unit order
    // (Java String compareTo) puts it far above (0xD835 > 0x7A) — the
    // two orders pick opposite winners.
    assert(BpeTrain.argmaxWins((("\uD835", "x"), 2L), (("z", "x"), 2L)))
    assert(!BpeTrain.argmaxWins((("z", "x"), 2L), (("\uD835", "x"), 2L)))
    // counts still dominate the tie-break
    assert(BpeTrain.argmaxWins((("z", "x"), 3L), (("\uD835", "x"), 2L)))
    // symbols outside the BMP: UTF-16 order puts '𝕒' (U+1D552, surrogate
    // units 0xD835…) below '！' (U+FF01), UTF-8 byte order puts it above
    assert(BpeTrain.argmaxWins((("\uFF01", "x"), 2L), (("𝕒", "x"), 2L)))
    // and training splits words by code point, so the real symbol
    // survives as one symbol (not two '?' surrogate halves) and takes
    // its byte-order place on the count tie with 'z'
    import spark.implicits._
    val words = Seq(("zx", 2L), ("𝕒x", 2L)).toDF("word", "c")
    val merges = BpeTrain.train(spark, words, 3)
    assert(merges.map(m => (m.left, m.right)) ==
      Seq(("x", "</w>"), ("z", "x</w>"), ("𝕒", "x</w>")))
  }
}
