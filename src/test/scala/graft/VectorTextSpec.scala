package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}

/** Kernels for the LLM-pipeline surface. */
class VectorTextSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("cosine: self-similarity 1, orthogonal 0, opposite -1") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 0.0), 2L, Seq(1.0, 0.0)),
      (2L, Seq(1.0, 0.0), 3L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 0.0), 4L, Seq(-1.0, 0.0)))
      .toDF("a", "va", "b", "vb")
    val got = df.select($"a", VectorFunctions.cosine($"va", $"vb").as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 1.0) < 1e-12)
    assert(math.abs(got(2L)) < 1e-12)
    assert(math.abs(got(3L) + 1.0) < 1e-12)
  }

  test("brute-force top-k on fixtures: each vec gets 5 distinct neighbors, cos in [-1,1]") {
    val out = SparkEntry.queries("q33_cosine_topk")(spark, TestSpark.sfDir).collect()
    val byA = out.groupBy(_.getAs[Long]("a_id"))
    assert(byA.values.forall(_.length == 5))
    byA.foreach { case (a, rs) =>
      assert(rs.map(_.getAs[Long]("neighbor_id")).distinct.length == 5)
      assert(!rs.map(_.getAs[Long]("neighbor_id")).contains(a))
      rs.foreach(r => assert(math.abs(r.getAs[Double]("cosine")) <= 1.0 + 1e-9))
      // rows are ranked by descending cosine
      val cs = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("lsh bucket: identical vectors share a bucket; bucket in [0, 2^16)") {
    import spark.implicits._
    val v = Seq.tabulate(64)(i => math.cos(i.toDouble))
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("id", "v")
    val got = df.select($"id", VectorFunctions.lshBucket($"v", 16, 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == got(2L))
    assert(got(3L) == (~got(1L) & 0xFFFF)) // opposite vector flips every plane
    got.values.foreach(b => assert(b >= 0 && b < (1 << 16)))
  }

  test("q115 keeps the sign of a Gram entry that rounds to zero, as DuckDB's round does") {
    import spark.implicits._
    val dir = tempDir("graft_q115")
    val e = Array.fill(64)(0f)
    e(0) = 0.01f
    e(1) = -0.0014f
    Seq(e.toSeq).toDF("embedding").write.parquet(s"$dir/embeddings.parquet")
    val g = graft.queries.Vector.q115_gram_matrix(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    def sign(x: Double) = math.signum(1.0 / x)
    assert(g((1, 2)) == 0.0 && sign(g((1, 2))) == -1.0, "-1.4e-5 rounds to -0.0")
    assert(g((2, 2)) == 0.0 && sign(g((2, 2))) == 1.0, "1.96e-6 rounds to 0.0")
    assert(g((1, 3)) == 0.0 && sign(g((1, 3))) == 1.0, "an exact 0.0 stays 0.0")
    assert(g((1, 1)) == 1.0e-4)
  }

  test("PCA: q116 components match an independent exact eigen-solve of the real Gram") {
    import spark.implicits._
    // independent evidence for the q116 golden: collect the REAL
    // embeddings' 64x64 Gram (same mergeable aggregate the query uses),
    // eigen-solve it with a from-scratch JACOBI rotation sweep (a
    // different algorithm than the query's power iteration), and check
    // the query's components are the top-4 eigenvectors: Rayleigh
    // quotients equal to the top eigenvalues, tiny eigen-residuals,
    // orthonormal.
    val dim = 64 // graft.queries.Vector.Dim (private)
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val packed = emb.agg(graft.functions.GramAgg.column($"embedding", dim))
      .head().getSeq[Double](0).toArray
    val g = Array.ofDim[Double](dim, dim)
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      g(i)(j) = packed(idx); g(j)(i) = packed(idx); idx += 1
    }
    // Jacobi eigenvalue sweeps: rotate away the largest off-diagonal
    // element until convergence — O(dim^3) driver-side, exact
    val a = g.map(_.clone())
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-9 && sweep < 200) {
      off = 0.0
      for (p <- 0 until dim; q <- p + 1 until dim) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-12) {
          val theta = 0.5 * math.atan2(2 * a(p)(q), a(q)(q) - a(p)(p))
          val (c, s0) = (math.cos(theta), math.sin(theta))
          for (k <- 0 until dim) {
            val (akp, akq) = (a(k)(p), a(k)(q))
            a(k)(p) = c * akp - s0 * akq
            a(k)(q) = s0 * akp + c * akq
          }
          for (k <- 0 until dim) {
            val (apk, aqk) = (a(p)(k), a(q)(k))
            a(p)(k) = c * apk - s0 * aqk
            a(q)(k) = s0 * apk + c * aqk
          }
        }
      }
      sweep += 1
    }
    val eigs = (0 until dim).map(i => a(i)(i)).sortBy(-_)
    val comps = graft.queries.Vector.pcaTopComponents(emb, "embedding", dim, k = 4)
    for (c <- 0 until 4) {
      val v = comps(c)
      // unit norm
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
      // Rayleigh quotient == c-th largest Jacobi eigenvalue
      val gv = Array.tabulate(dim)(r => (0 until dim).map(x => g(r)(x) * v(x)).sum)
      val lambda = (0 until dim).map(i => v(i) * gv(i)).sum: Double
      assert(math.abs(lambda - eigs(c)) <= 1e-6 * eigs.head,
        s"component $c Rayleigh $lambda vs Jacobi ${eigs(c)}")
      // eigen-residual ||Gv - lambda v|| small relative to the spectrum
      val res = math.sqrt((0 until dim).map(i => {
        val r = gv(i) - lambda * v(i); r * r
      }).sum)
      assert(res <= 1e-4 * eigs.head, s"component $c residual $res")
      // pairwise orthogonality
      for (p <- 0 until c) {
        val d0 = (0 until dim).map(i => v(i) * comps(p)(i)).sum
        assert(math.abs(d0) < 1e-6, s"components $p,$c not orthogonal: $d0")
      }
    }
  }

  test("PCA: top components recover the dominant directions of a planted corpus") {
    import spark.implicits._
    val dim = 8
    // u dominates (variance ~100x), w is the clear second direction
    val u = Array.tabulate(dim)(i => (i + 1).toDouble)
    val un = math.sqrt(u.map(x => x * x).sum)
    val uHat = u.map(_ / un)
    val w = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0 else -1.0)
    val wProj = (0 until dim).map(i => w(i) * uHat(i)).sum
    val wOrth = (0 until dim).map(i => w(i) - wProj * uHat(i)).toArray
    val wn = math.sqrt(wOrth.map(x => x * x).sum)
    val wHat = wOrth.map(_ / wn)
    val rows = (1 to 200).map { t =>
      val a = (t % 21 - 10).toDouble     // dominant coefficient in [-10, 10]
      val b = (t % 5 - 2).toDouble * 0.3 // secondary in [-0.6, 0.6]
      Array.tabulate(dim)(i => (a * uHat(i) + b * wHat(i)).toFloat).toSeq
    }
    val df = rows.toDF("embedding")
    val comps = graft.queries.Vector.pcaTopComponents(df, "embedding", dim, k = 2)
    def cos(a: Array[Double], b: Array[Double]): Double =
      (0 until dim).map(i => a(i) * b(i)).sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    assert(math.abs(cos(comps(0), uHat)) > 0.999, s"top component off: ${comps(0).toSeq}")
    assert(math.abs(cos(comps(1), wHat)) > 0.999, s"second component off: ${comps(1).toSeq}")
    assert(math.abs(cos(comps(0), comps(1))) < 1e-6) // deflation keeps them orthogonal
  }

  test("language id picks the language whose stopwords dominate") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house went to the park in the rain"),
      (2L, "el gato y la casa de la madre que vive en la calle"),
      (3L, "der hund und die katze das haus ist hier und der baum"),
      (4L, "le chien et les chats des villes une maison le soir"),
      (5L, "xqz zzz qqq"))
      .toDF("doc_id", "text")
    val got = df.select($"doc_id", TextFunctions.langId($"text").as("pred"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "und"))
  }

  test("winnowing: shared long substring → shared fingerprint; short text → none") {
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog near the river bank today"
    val df = Seq(
      (1L, s"AAAA unique prefix one $common"),
      (2L, s"ZZZZ totally different lead-in text $common"),
      (3L, "xyzw"), // shorter than k → no fingerprints
      (4L, "0123456789 9876543210 numeric island without letters repeated"))
      .toDF("doc_id", "text")
    val fp = TextFunctions.winnowFingerprints(df, Seq("doc_id"), "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fingerprint"))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!byDoc.contains(3L))
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)  // winnowing guarantee
    assert((byDoc(1L) & byDoc(4L)).isEmpty)   // disjoint content
    // deterministic across runs
    val fp2 = TextFunctions.winnowFingerprints(df, Seq("doc_id"), "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fingerprint")).toSet
    assert(fp2 == fp.toSet)
  }

  test("connected components: chain, ring, and singles resolve to min-id labels") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4 → needs several propagation rounds),
    // ring 10-11-12-10, isolated edge 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L)).toDF("src", "dst")
    val got = graft.operators.Dedup.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("minhash pairs + components cluster synthetic near-dup docs end-to-end") {
    import spark.implicits._
    // three clusters of near-identical docs (small token edits) plus two
    // unrelated docs; the pipeline is verified pairs -> components
    val base1 = "the quick brown fox jumps over the lazy dog by the river bank today again"
    val base2 = "large scale data processing engines shuffle partition and aggregate rows quickly"
    val base3 = "vector embeddings enable semantic similarity search across huge document corpora"
    val docs = Seq(
      1L -> base1, 2L -> (base1 + " extra"), 3L -> ("prefix " + base1),
      10L -> base2, 11L -> (base2 + " now"),
      20L -> base3, 21L -> (base3 + " daily"), 22L -> ("well " + base3),
      30L -> "completely different content one", 31L -> "another unrelated text body two")
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .minHashVerifiedPairs(docs, "doc_id", "text", threshold = 0.5)
    val comp = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comp.filter(_._1 < 10).values.toSet == Set(1L))
    assert(comp.filter(k => k._1 >= 10 && k._1 < 20).values.toSet == Set(10L))
    assert(comp.filter(k => k._1 >= 20 && k._1 < 30).values.toSet == Set(20L))
    assert(!comp.contains(30L) && !comp.contains(31L)) // singletons never pair
  }

  test("connected components of an empty edge list is empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.operators.Dedup.connectedComponents(empty, "src", "dst").count() == 0)
  }

  test("connected components match union-find on a pseudo-random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 200
    val edges = Seq.fill(180)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> find(id.toInt).toLong).toMap
    // union-find parents point at, but are not necessarily, the min member;
    // normalize both sides to min-of-component
    val byRoot = want.groupBy(_._2).values
      .flatMap(m => { val mn = m.keys.min; m.keys.map(_ -> mn) }).toMap
    val got = graft.operators.Dedup
      .connectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(got == byRoot)
    // the iterative path (forced past the single-task union-find fast
    // path) must agree exactly
    val gotLoop = graft.operators.Dedup
      .connectedComponents(edges.toDF("src", "dst"), "src", "dst",
        localThresholdEdges = 0L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(gotLoop == byRoot)
  }

  test("embedding quantize: per-row plan (no shuffle), values bounded by int8") {
    val df = SparkEntry.queries("q92_embedding_quantize")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free per-row plan:\n$plan")
    df.collect().foreach { r =>
      assert(r.getAs[Long]("q_l1") <= 127L * 64)
      assert(math.abs(r.getAs[Long]("q_sum")) <= r.getAs[Long]("q_l1"))
      assert(r.getAs[Long]("n_sat") >= 1) // amax element always saturates
      assert(r.getAs[Double]("rmse") < r.getAs[Double]("amax") / 127.0)
    }
  }

  test("label centroids: every label present, cohesion bounded, counts conserved") {
    val rows = SparkEntry.queries("q97_label_centroids")(spark, TestSpark.sfDir).collect()
    assert(rows.map(_.getAs[Int]("label")).toSet.size == rows.length)
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == graft.Tables.embeddings(spark, TestSpark.sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Double]("min_cos") <= r.getAs[Double]("avg_cos"))
      assert(r.getAs[Double]("avg_cos") <= r.getAs[Double]("max_cos"))
      assert(math.abs(r.getAs[Double]("max_cos")) <= 1.0 + 1e-9)
    }
  }

  test("contamination pairs are strictly cross-source with positive overlap") {
    val rows = SparkEntry.queries("q93_contamination")(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(r.getAs[Long]("n_shared") >= 1L)
    }
  }

  test("doc chunks: stride-48 starts, full 64-token chunks except the tail") {
    val rows = SparkEntry.queries("q94_doc_chunks")(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, cs) =>
      val sorted = cs.sortBy(_.getAs[Int]("chunk_idx"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Int]("chunk_idx") == i)
        assert(r.getAs[Long]("start_tok") == 1 + i.toLong * 48)
        val n = r.getAs[Long]("n_chunk_tok")
        assert(n >= 1 && n <= 64)
        if (i < sorted.length - 1) assert(n == 64) // only the tail is short
      }
    }
  }

  test("packing plan: per-source token totals survive the window binning") {
    import spark.implicits._
    val rows = SparkEntry.queries("q95_packing_plan")(spark, TestSpark.sfDir)
      .groupBy($"source").agg(sum($"n_tokens").as("packed"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("packed")).toMap
    val want = graft.Tables.documents(spark, TestSpark.sfDir)
      .selectExpr("source", "CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT) AS n")
      .groupBy($"source").agg(sum($"n").as("total"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("total")).toMap
    assert(rows == want) // every token lands in exactly one bin
  }

  test("word shingles: n-grams in order, deduplicated, empty below n tokens") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x y x y x y")).toDF("id", "text")
    val got = df.select($"id", TextFunctions.wordShingles($"text", 3).as("s"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[String]]("s").toSeq).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L) == Seq.empty)
    assert(got(3L) == Seq("x y x", "y x y")) // deduped from 4 raw shingles
  }
}
