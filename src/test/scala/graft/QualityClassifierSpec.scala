package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{HashedBow, HashedBowKernel, VecSumAgg}
import graft.operators.QualityClassifier

/** Distributed logistic-regression quality classifier: featurizer
  * kernel, mergeable gradient reduction, and end-to-end training on the
  * weak-label task (the q134 pipeline).
  */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("HashedBow: deterministic buckets, tf and binary modes, empty doc") {
    import spark.implicits._
    val df = Seq("the cat the mat", "", "a b a").toDF("text")
      .select(QualityClassifier.tokens($"text").as("t"))
    val tf = df.select(HashedBow($"t", 16, binary = false).as("v"))
      .as[Seq[Double]].collect()
    val bin = df.select(HashedBow($"t", 16, binary = true).as("v"))
      .as[Seq[Double]].collect()
    assert(tf.forall(_.length == 16))
    // tf sums to 1 for non-empty docs, 0 for empty
    assert(math.abs(tf(0).sum - 1.0) < 1e-12 && tf(1).sum == 0.0)
    // "the" appears twice: its bucket carries 2/4 in tf mode, 1.0 in binary
    val theBucket = Math.floorMod(HashedBowKernel.fnv1a("the".getBytes("UTF-8")), 16)
    assert(tf(0)(theBucket) == 0.5 && bin(0)(theBucket) == 1.0)
    // binary vectors are 0/1 only
    assert(bin.flatten.forall(x => x == 0.0 || x == 1.0))
    // determinism across evaluations
    val again = df.select(HashedBow($"t", 16, binary = false).as("v"))
      .as[Seq[Double]].collect()
    assert(tf.toSeq == again.toSeq)
  }

  test("VecSumAgg matches a local element-wise sum and merges across partitions") {
    import spark.implicits._
    val vecs = (1 to 100).map(i => Seq(i.toDouble, -i.toDouble, 0.5))
    val got = vecs.toDF("v").repartition(7)
      .select(VecSumAgg.column($"v", 3).as("s")).as[Seq[Double]].head()
    val want = Seq(vecs.map(_(0)).sum, vecs.map(_(1)).sum, vecs.map(_(2)).sum)
    assert(got.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("training separates an obviously-separable synthetic task") {
    import spark.implicits._
    // positives contain stopword-like markers; negatives are digit noise
    val docs = ((1 to 60).map(i => (s"the quick fox $i and the dog", 1.0)) ++
      (1 to 40).map(i => (s"zz$i qq$i xx$i", 0.0))).toDF("text", "y")
    val feats = QualityClassifier.featurize(docs, "text", 32)
    val model = QualityClassifier.train(feats, "f", "y", 32, iters = 20, lr = 2.0)
    assert(model.losses.head > model.losses.last)
    assert(model.losses.last < 0.1)
    val acc = feats.withColumn("score", QualityClassifier.score($"f", model))
      .select(avg((($"score" > 0.5).cast("double") === $"y").cast("double")))
      .head().getDouble(0)
    assert(acc == 1.0)
    // Newton/IRLS reaches at least GD's loss in a quarter of the scans
    val newton = QualityClassifier.trainNewton(feats, "f", "y", 32, iters = 5)
    assert(newton.losses.head > newton.losses.last)
    assert(newton.losses.last <= model.losses.last + 1e-9,
      s"newton ${newton.losses.last} vs gd ${model.losses.last}")
    val accN = feats.withColumn("score", QualityClassifier.score($"f", newton))
      .select(avg((($"score" > 0.5).cast("double") === $"y").cast("double")))
      .head().getDouble(0)
    assert(accN == 1.0)
  }

  test("q134 weak-label training converges and beats the base rate") {
    import spark.implicits._
    val out = graft.queries.Text.q134_kernel(spark, TestSpark.sfDir)
      .agg(sum($"n_docs").cast("double").as("n"),
        sum($"n_label_keep").cast("double").as("k"),
        sum(($"accuracy" * $"n_docs")).as("accsum"))
      .head()
    val base = math.max(out.getDouble(1) / out.getDouble(0),
      1.0 - out.getDouble(1) / out.getDouble(0))
    val acc = out.getDouble(2) / out.getDouble(0)
    assert(acc >= base && acc >= 0.9)
  }

  test("held-out AUC: the q134 model generalizes, not just memorizes its training split") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the q134 weak-label recipe, but trained on 80% of docs (doc_id
    // hash split) and evaluated on the UNSEEN 20% — independent evidence
    // beyond the golden pin that the trained weights carry signal
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    // the q134 production recipe (Newton/IRLS) is what the gate guards
    val (_, model) = QualityClassifier.trainWeak(docs.where(pmod($"doc_id", lit(5)) =!= 0))
    val heldOut = QualityClassifier.featurize(
      QualityClassifier.weakLabels(docs.where(pmod($"doc_id", lit(5)) === 0)), "text",
      model.weights.size)
    // rank-based AUC (Mann-Whitney) over the held-out scores
    val scored = heldOut.withColumn("score", QualityClassifier.score($"f", model))
      .select($"y", $"score")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"score", $"y")))
    val agg = scored.agg(
      sum(when($"y" === 1.0, $"r")).as("posRankSum"),
      sum($"y").as("nPos"), count(lit(1)).as("n")).head()
    val nPos = agg.getDouble(1)
    val nNeg = agg.getLong(2) - nPos
    val auc = (agg.getLong(0) - nPos * (nPos + 1) / 2.0) / (nPos * nNeg)
    assert(nPos > 0 && nNeg > 0, s"degenerate held-out split: $nPos pos / $nNeg neg")
    assert(auc >= 0.90, s"held-out AUC $auc below the pinned 0.90 bound")
  }
}
