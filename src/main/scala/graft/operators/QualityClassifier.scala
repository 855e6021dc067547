package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{DotProduct, HashedBow, TextFunctions, VecSumAgg}

/** Distributed quality-classifier training (north_star text analysis —
  * the fasttext-style linear model pre-training pipelines train on weak
  * labels to score documents, e.g. the CCNet / LLaMA "looks like a
  * reference page" filter): logistic regression over hashed
  * bag-of-words features, trained by FULL-BATCH gradient descent where
  * each iteration is exactly ONE job: a narrow scan + a single
  * mergeable (d+3)-double reduction ([[graft.functions.VecSumAgg]]
  * posture — map-side partial gradients, one d-vector per partition
  * shuffles, weights live on the driver and broadcast back as a
  * literal).
  *
  * The 100 TB story: nothing here depends on corpus size except the k
  * scans (k = iteration count, fixed small); there is no per-token
  * shuffle, no vocabulary build (the hashing trick), no driver-side
  * data — the driver holds d+1 doubles. Featurization
  * ([[graft.functions.HashedBow]]) is a codegen'd per-row kernel.
  * Determinism: weights start at zero and the gradient is a pure sum;
  * double addition is merge-order-sensitive in the last ulps, so
  * consumers round scores (q134 rounds to 4 decimals) rather than pin
  * raw bits.
  */
object QualityClassifier {

  /** The heuristic quality signals of `text`, the columns the rule below
    * reads: token count, English stopword hits, punctuation count, length.
    */
  def heuristicSignals(text: Column): Seq[Column] = Seq(
    TextFunctions.tokenCount(text).cast("long").as("n_tok"),
    TextFunctions.langScore(text, TextFunctions.enMarkers).as("n_stop"),
    TextFunctions.punctCount(text).as("n_punct"),
    length(text).as("len"))

  /** The heuristic quality rule (the Gopher-style corpus filters): at
    * least 5 tokens, at most one punctuation character in 10, at least
    * one stopword; [[heuristicKeep]] when all three hold.
    */
  val minTokens: Column = col("n_tok") >= 5
  val punctOk: Column = col("n_punct") / col("len") <= 0.1
  val hasStopword: Column = col("n_stop") > 0
  val heuristicKeep: Column = minTokens && punctOk && hasStopword

  /** `docs` plus the [[heuristicSignals]] of its `text` and the weak
    * label `y` (1.0 where [[heuristicKeep]] holds) the model trains on.
    */
  def weakLabels(docs: DataFrame): DataFrame =
    docs.select(col("*") +: heuristicSignals(col("text")): _*)
      .withColumn("y", heuristicKeep.cast("double"))

  /** Lowercased word tokens — the shared tokenizer of the feature side. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9']+"), lit(0))

  /** Append a `dim`-length hashed feature column (binary presence by
    * default — the encoding the linear model trains fastest on).
    */
  def featurize(docs: DataFrame, textCol: String, dim: Int, out: String = "f",
      binary: Boolean = true): DataFrame =
    docs.withColumn(out, HashedBow(tokens(col(textCol)), dim, binary))

  case class Model(weights: Seq[Double], bias: Double, losses: Seq[Double])

  /** The quality model of q134 and the pipelines: [[weakLabels]] of
    * `docs`' `text`, 64-wide hashed bag-of-words features, 5 Newton
    * scans ([[trainNewton]] — at 100 TB the iteration count IS the
    * corpus-scan count). Returns the labeled feature frame (column `f`),
    * materialized by the trainer's first scan, and the model.
    */
  def trainWeak(docs: DataFrame): (DataFrame, Model) = {
    val dim = 64
    graft.Materialize.scanned(featurize(weakLabels(docs), "text", dim))(
      trainNewton(_, "f", "y", dim, iters = 5))
  }

  /** Train on a DataFrame carrying features `fCol` (array<double> of
    * length `dim`) and label `yCol` (0.0/1.0). Each iteration computes
    * margin m = w·x + b, p = σ(m), and reduces the full-batch gradient
    * [Σ(p−y)x, Σ(p−y), Σ logloss, n] in one aggregate; the driver takes
    * the step. Mean-gradient steps with fixed `lr`.
    */
  def train(df: DataFrame, fCol: String, yCol: String, dim: Int,
      iters: Int = 8, lr: Double = 1.0): Model = {
    var w = new Array[Double](dim)
    var b = 0.0
    val losses = Seq.newBuilder[Double]
    val cached = df.select(col(fCol).as("f"), col(yCol).cast("double").as("y")).cache()
    try {
      for (_ <- 0 until iters) {
        val g = gradient(cached, w, b)
        val n = g.n.toDouble
        losses += g.loss / n
        val next = new Array[Double](dim)
        var i = 0
        while (i < dim) { next(i) = w(i) - lr * g.gw(i) / n; i += 1 }
        w = next
        b = b - lr * g.gb / n
      }
    } finally cached.unpersist()
    Model(w.toSeq, b, losses.result())
  }

  /** Newton / IRLS training — the SAME one-job-per-iteration posture as
    * [[train]], but each job also reduces the (d+1)×(d+1) Hessian upper
    * triangle (Σ p(1−p)·x̃x̃ᵀ over the bias-augmented features, via
    * [[graft.functions.GramAgg.columnD]] on √s-scaled rows — map-side
    * combine, one ~(d²/2)-double row per partition), and the driver
    * solves the 65×65 damped system. Quadratic convergence: ~5 scans
    * reach what 30 fixed-rate GD scans approached — at 100 TB, where
    * iteration count IS the corpus-scan count, this is the production
    * trainer and fixed-rate GD is the fallback for dims too wide for a
    * d² reduction.
    *
    * `ridge` scales with n (H entries are un-normalized sums), keeping
    * the step finite on separable weak-label tasks where the MLE
    * diverges.
    */
  def trainNewton(df: DataFrame, fCol: String, yCol: String, dim: Int,
      iters: Int = 5, ridge: Double = 1e-6): Model = {
    val d1 = dim + 1
    val wAug = new Array[Double](d1) // [w, b]
    val losses = Seq.newBuilder[Double]
    val cached = df.select(
      concat(col(fCol), array(lit(1.0))).as("f"),
      col(yCol).cast("double").as("y")).cache()
    try {
      for (_ <- 0 until iters) {
        val margin = DotProduct(col("f"), typedlit(wAug.toSeq))
        val p = lit(1.0) / (lit(1.0) + exp(-margin))
        val eps = 1e-12
        val row = cached
          .withColumn("g", p - col("y"))
          .withColumn("s", sqrt(greatest(p * (lit(1.0) - p), lit(eps))))
          .withColumn("ll", -(col("y") * log(greatest(p, lit(eps))) +
            (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, lit(eps)))))
          .select(
            VecSumAgg.scaledColumn(col("f"), col("g"), d1).as("grad"),
            graft.functions.GramAgg.scaledColumnD(col("f"), col("s"), d1).as("hess"),
            sum(col("ll")).as("loss"), count(lit(1)).as("n"))
          .head()
        val grad = row.getSeq[Double](0).toArray
        val tri = row.getSeq[Double](1).toArray
        val n = row.getLong(3).toDouble
        losses += row.getDouble(2) / n
        // unpack the row-major upper triangle, damp the diagonal
        val h = Array.ofDim[Double](d1, d1)
        var k = 0
        var i = 0
        while (i < d1) {
          var j = i
          while (j < d1) { h(i)(j) = tri(k); h(j)(i) = tri(k); k += 1; j += 1 }
          h(i)(i) += ridge * n
          i += 1
        }
        val step = solve(h, grad)
        i = 0
        while (i < d1) { wAug(i) -= step(i); i += 1 }
      }
    } finally cached.unpersist()
    Model(wAug.take(dim).toSeq, wAug(dim), losses.result())
  }

  /** Gaussian elimination with partial pivoting on the (damped, SPD)
    * (d+1)² system — driver-local, O(d³) on d ≤ a few hundred.
    */
  private def solve(a: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val m = a.map(_.clone())
    val b = b0.clone()
    var col0 = 0
    while (col0 < n) {
      var piv = col0
      var r = col0 + 1
      while (r < n) { if (math.abs(m(r)(col0)) > math.abs(m(piv)(col0))) piv = r; r += 1 }
      val t = m(piv); m(piv) = m(col0); m(col0) = t
      val tb = b(piv); b(piv) = b(col0); b(col0) = tb
      val d = m(col0)(col0)
      r = col0 + 1
      while (r < n) {
        val f = m(r)(col0) / d
        if (f != 0.0) {
          var c = col0
          while (c < n) { m(r)(c) -= f * m(col0)(c); c += 1 }
          b(r) -= f * b(col0)
        }
        r += 1
      }
      col0 += 1
    }
    val x = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= m(i)(j) * x(j); j += 1 }
      x(i) = s / m(i)(i)
      i -= 1
    }
    x
  }

  private case class Grad(gw: Array[Double], gb: Double, loss: Double, n: Long)

  private def gradient(df: DataFrame, w: Array[Double], b: Double): Grad = {
    val margin = DotProduct(col("f"), typedlit(w.toSeq)) + lit(b)
    val p = lit(1.0) / (lit(1.0) + exp(-margin))
    // clamped logloss so a saturated prediction never yields -inf
    val eps = 1e-12
    val row = df
      .withColumn("g", p - col("y"))
      .withColumn("ll", -(col("y") * log(greatest(p, lit(eps))) +
        (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, lit(eps)))))
      .select(
        VecSumAgg.column(transform(col("f"), x => x * col("g")), w.length).as("gw"),
        sum(col("g")).as("gb"), sum(col("ll")).as("loss"),
        count(lit(1)).as("n"))
      .head()
    Grad(row.getSeq[Double](0).toArray, row.getDouble(1), row.getDouble(2), row.getLong(3))
  }

  /** The quality stage's keep rule over a [[score]] column. */
  def passes(score: Column): Column = score > 0.5

  /** σ(w·x + b) as a column over the feature column. */
  def score(fCol: Column, m: Model): Column = {
    val margin = DotProduct(fCol, typedlit(m.weights)) + lit(m.bias)
    lit(1.0) / (lit(1.0) + exp(-margin))
  }
}
