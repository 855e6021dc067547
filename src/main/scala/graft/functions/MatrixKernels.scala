package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Matrix-at-once vector kernels: one Expression evaluation per row
  * computes ALL plane/centroid dot products in a compiled loop, with the
  * matrix attached as a codegen reference object.
  *
  * Why: composing per-plane/per-centroid columns (`array(dot(v,p0),
  * dot(v,p1), …)`) inlines one generated dot loop PER PLANE into the
  * consume path — at 17 tables × 9 planes (the sf1-scale LSH setting) or
  * 256 centroids (auto-scaled IVF) the generated method blows past JIT
  * limits and the whole stage falls back to interpreted evaluation; the
  * sf1 probe measured 3× regressions from exactly this. A single kernel
  * call keeps codegen tiny and the arithmetic in one tight loop.
  *
  * Determinism contract: inner dot products use the same left-fold order
  * as [[DotProduct]] over min(len) elements, so signs/rankings are
  * bit-identical with the per-plane formulation and every golden-pinned
  * result is unchanged.
  */
object MatrixKernels {

  /** Per-table sign-LSH buckets: out(t) = Σ_j (v·planes(t)(j) > 0) << j. */
  def lshBuckets(v: ArrayData, planes: Array[Array[Array[Double]]]): ArrayData = {
    val out = new Array[Int](planes.length)
    val vn = v.numElements()
    var t = 0
    while (t < planes.length) {
      val fam = planes(t)
      var bucket = 0
      var j = 0
      while (j < fam.length) {
        val hp = fam(j)
        val n = math.min(vn, hp.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += v.getDouble(i) * hp(i); i += 1 }
        if (s > 0) bucket |= 1 << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Indices of the k centroids with largest cos(v, c_j) — computed as
    * (v·c_j)/cnorms(j) (the per-row 1/|v| factor is constant across j and
    * cannot change the ranking). Tie-break: first index wins, matching
    * TopKIndicesKernel's strict-greater selection.
    */
  def centroidTopK(v: ArrayData, cents: Array[Array[Double]],
      cnorms: Array[Double], k: Int): ArrayData = {
    val m = cents.length
    val sims = new Array[Double](m)
    val vn = v.numElements()
    var j = 0
    while (j < m) {
      val c = cents(j)
      val n = math.min(vn, c.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * c(i); i += 1 }
      // a zero-norm centroid yields NaN, which fails every > comparison
      // below and would leave best = -1; rank it last instead
      val sim = s / cnorms(j)
      sims(j) = if (java.lang.Double.isNaN(sim)) Double.NegativeInfinity else sim
      j += 1
    }
    val kk = math.min(k, m)
    val picked = new Array[Int](kk)
    val used = new Array[Boolean](m)
    var r = 0
    while (r < kk) {
      var best = -1
      var bestV = Double.NegativeInfinity
      var i = 0
      while (i < m) {
        if (!used(i) && (best < 0 || sims(i) > bestV)) { bestV = sims(i); best = i }
        i += 1
      }
      used(best) = true
      picked(r) = best
      r += 1
    }
    new GenericArrayData(picked)
  }

  /** Two-level (coarse → fine) top-k nearest-centroid assignment — the
    * hierarchical quantizer search every large-scale IVF/SemDeDup
    * deployment uses: score the ~√m coarse groups, then only the fine
    * centroids inside the best `kCoarse` groups, so per-row work is
    * O(√m·d) instead of O(m·d). Approximate exactly where IVF is: a
    * fine centroid outside every probed coarse group is not considered.
    *
    * Selection guarantees (the output is always min(k, m) entries):
    *  - empty coarse groups are never probed — a dead group (its members
    *    all drifted to other groups during Lloyd) would otherwise burn a
    *    probe on zero candidates exactly in the dense regions;
    *  - probing continues past `kCoarse` until at least k fine candidates
    *    are gathered (and kCoarse is clamped to ≥ 1), so the caller can
    *    rely on element_at(out, k) existing;
    *  - ADAPTIVE tie escalation: every group whose coarse sim is within
    *    `tieEps` of the kCoarse-th picked group's sim is ALSO probed — a
    *    query near a coarse Voronoi boundary (the case where the fixed-
    *    probe search loses its true cell) sees near-tied coarse sims, and
    *    the escalation recovers it at the cost of extra probes only for
    *    boundary rows.
    */
  def centroidTopKHier(v: ArrayData, coarse: Array[Array[Double]],
      coarseNorms: Array[Double], fine: Array[Array[Double]],
      fineNorms: Array[Double], fineOfCoarse: Array[Array[Int]],
      kCoarse: Int, k: Int, tieEps: Double = 0.0): ArrayData = {
    val vn = v.numElements()
    val mc = coarse.length
    val csims = new Array[Double](mc)
    var j = 0
    while (j < mc) {
      val c = coarse(j)
      val n = math.min(vn, c.length)
      var sAcc = 0.0
      var i = 0
      while (i < n) { sAcc += v.getDouble(i) * c(i); i += 1 }
      val sim = sAcc / coarseNorms(j)
      csims(j) = if (java.lang.Double.isNaN(sim)) Double.NegativeInfinity else sim
      j += 1
    }
    val kc = math.max(1, math.min(kCoarse, mc))
    val usedC = new Array[Boolean](mc)
    var nCand = 0
    val candGroups = new Array[Int](mc)
    var picked = 0
    var tieBar = Double.PositiveInfinity // unset until the kc-th pick
    var go = true
    while (go) {
      var best = -1
      var bestV = Double.NegativeInfinity
      var i = 0
      while (i < mc) {
        if (!usedC(i) && fineOfCoarse(i).length > 0 &&
            (best < 0 || csims(i) > bestV)) { bestV = csims(i); best = i }
        i += 1
      }
      if (best < 0) go = false // non-empty groups exhausted
      else if (picked < kc || nCand < k || bestV >= tieBar) {
        usedC(best) = true
        candGroups(picked) = best
        nCand += fineOfCoarse(best).length
        picked += 1
        if (picked == kc) tieBar = bestV - tieEps
      } else go = false
    }
    // score only the probed groups' fine centroids
    val candIdx = new Array[Int](nCand)
    val candSim = new Array[Double](nCand)
    var w = 0
    var r = 0
    while (r < picked) {
      val members = fineOfCoarse(candGroups(r))
      var t = 0
      while (t < members.length) {
        val fi = members(t)
        val c = fine(fi)
        val n = math.min(vn, c.length)
        var sAcc = 0.0
        var i = 0
        while (i < n) { sAcc += v.getDouble(i) * c(i); i += 1 }
        val sim = sAcc / fineNorms(fi)
        candIdx(w) = fi
        candSim(w) = if (java.lang.Double.isNaN(sim)) Double.NegativeInfinity else sim
        w += 1
        t += 1
      }
      r += 1
    }
    val kk = math.min(k, nCand)
    val out = new Array[Int](kk)
    val used = new Array[Boolean](nCand)
    r = 0
    while (r < kk) {
      var best = -1
      var bestV = Double.NegativeInfinity
      var i = 0
      while (i < nCand) {
        if (!used(i) && (best < 0 || candSim(i) > bestV)) { bestV = candSim(i); best = i }
        i += 1
      }
      used(best) = true
      out(r) = candIdx(best)
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Driver-side spherical k-means of a FINE centroid array into
    * ⌈√m⌉ coarse groups (deterministic: strided init, fixed 5 Lloyd
    * iterations, cosine assignment) — the bounded local step that makes
    * [[centroidTopKHier]]'s O(√m·d) per-row search possible. Returns
    * (coarseCents, coarseNorms, fineOfCoarse member lists; every group
    * non-empty by construction except trailing empties, which keep
    * their seed centroid and an empty member list).
    */
  def clusterCentroids(fine: Array[Array[Double]], fineNorms: Array[Double])
      : (Array[Array[Double]], Array[Double], Array[Array[Int]]) = {
    val m = fine.length
    val g = math.max(1, math.ceil(math.sqrt(m.toDouble)).toInt)
    val dim = fine.headOption.map(_.length).getOrElse(0)
    val stride = math.max(1, m / g)
    val coarse = Array.tabulate(g)(i => fine(math.min(i * stride, m - 1)).clone())
    val cnorms = coarse.map(c => math.sqrt(c.map(x => x * x).sum))
    val assign = new Array[Int](m)
    var iter = 0
    while (iter < 5) {
      var i = 0
      while (i < m) {
        var best = 0
        var bestV = Double.NegativeInfinity
        var j2 = 0
        while (j2 < g) {
          var sAcc = 0.0
          var t = 0
          while (t < dim) { sAcc += fine(i)(t) * coarse(j2)(t); t += 1 }
          val sim = sAcc / (cnorms(j2) * fineNorms(i))
          if (!java.lang.Double.isNaN(sim) && sim > bestV) { bestV = sim; best = j2 }
          j2 += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(g)(new Array[Double](dim))
      val cnt = new Array[Int](g)
      i = 0
      while (i < m) {
        val a = assign(i)
        var t = 0
        // spherical update: average unit vectors
        while (t < dim) { sums(a)(t) += fine(i)(t) / fineNorms(i); t += 1 }
        cnt(a) += 1
        i += 1
      }
      var j3 = 0
      while (j3 < g) {
        if (cnt(j3) > 0) {
          val nv = sums(j3)
          val nn = math.sqrt(nv.map(x => x * x).sum)
          if (nn > 0) { coarse(j3) = nv; cnorms(j3) = nn }
        }
        j3 += 1
      }
      iter += 1
    }
    val members = Array.fill(g)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i < m) { members(assign(i)) += i; i += 1 }
    (coarse, cnorms, members.map(_.toArray))
  }

  /** max_j cos(v, refs_j) — the decontamination kernel: one compiled
    * loop over a broadcast reference matrix per row, full cosine (both
    * norms), so the value itself is reportable, not just the argmax.
    * Zero-norm rows or refs contribute NaN → skipped; no refs → -1.
    */
  def maxCosine(v: ArrayData, refs: Array[Array[Double]],
      rnorms: Array[Double]): Double = {
    val vn = v.numElements()
    var vs = 0.0
    var i = 0
    while (i < vn) { val x = v.getDouble(i); vs += x * x; i += 1 }
    val vnorm = math.sqrt(vs)
    var best = -1.0
    var j = 0
    while (j < refs.length) {
      val c = refs(j)
      val n = math.min(vn, c.length)
      var s = 0.0
      i = 0
      while (i < n) { s += v.getDouble(i) * c(i); i += 1 }
      val sim = s / (vnorm * rnorms(j))
      if (!java.lang.Double.isNaN(sim) && sim > best) best = sim
      j += 1
    }
    best
  }
}

/** array<int> of per-table sign-LSH bucket ids for an array<double>
  * vector column; `planes(t)(j)(i)` = component i of plane j of table t.
  */
case class LshBucketsExpr(child: Expression, planes: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MatrixKernels.lshBuckets(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MatrixKernels.lshBuckets($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucketsExpr {
  /** Buckets for tables seeded 0..nTables-1 with the standard seeded
    * hyperplane families (VectorFunctions.hyperplanes).
    */
  def apply(vec: Column, nPlanes: Int, dim: Int, nTables: Int): Column =
    seeded(vec, nPlanes, dim, Array.range(0, nTables))

  /** Buckets for an explicit seed list (one table per seed). */
  def seeded(vec: Column, nPlanes: Int, dim: Int, seeds: Array[Int]): Column = {
    val planes = seeds.map(s => VectorFunctions.hyperplanes(nPlanes, dim, s))
    GraftColumnBridge.column(
      LshBucketsExpr(GraftColumnBridge.expression(vec), planes))
  }
}

/** array<int> of the nProbe nearest centroid indices (by cosine) for an
  * array<double> vector column.
  */
case class CentroidTopKExpr(child: Expression, cents: Array[Array[Double]],
    cnorms: Array[Double], k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MatrixKernels.centroidTopK(input.asInstanceOf[ArrayData], cents, cnorms, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    val nref = ctx.addReferenceObj("ivfNorms", cnorms, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MatrixKernels.centroidTopK($c, $cref, $nref, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CentroidTopKExpr {
  def apply(vec: Column, cents: Array[Array[Double]], cnorms: Array[Double],
      k: Int): Column =
    GraftColumnBridge.column(
      CentroidTopKExpr(GraftColumnBridge.expression(vec), cents, cnorms, k))
}

/** Hierarchical (coarse → fine) top-k cell assignment — the per-row
  * [[MatrixKernels.centroidTopKHier]] search over a two-level broadcast
  * quantizer; O(√m·d) per row where the flat [[CentroidTopKExpr]] is
  * O(m·d).
  */
case class HierTopKExpr(child: Expression, coarse: Array[Array[Double]],
    coarseNorms: Array[Double], fine: Array[Array[Double]],
    fineNorms: Array[Double], fineOfCoarse: Array[Array[Int]],
    kCoarse: Int, k: Int, tieEps: Double) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MatrixKernels.centroidTopKHier(input.asInstanceOf[ArrayData], coarse,
      coarseNorms, fine, fineNorms, fineOfCoarse, kCoarse, k, tieEps)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val co = ctx.addReferenceObj("hierCoarse", coarse, "double[][]")
    val cn = ctx.addReferenceObj("hierCoarseNorms", coarseNorms, "double[]")
    val fi = ctx.addReferenceObj("hierFine", fine, "double[][]")
    val fn = ctx.addReferenceObj("hierFineNorms", fineNorms, "double[]")
    val fo = ctx.addReferenceObj("hierFineOf", fineOfCoarse, "int[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MatrixKernels.centroidTopKHier(" +
        s"$c, $co, $cn, $fi, $fn, $fo, $kCoarse, $k, $tieEps);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HierTopKExpr {
  def apply(vec: Column, coarse: Array[Array[Double]], coarseNorms: Array[Double],
      fine: Array[Array[Double]], fineNorms: Array[Double],
      fineOfCoarse: Array[Array[Int]], kCoarse: Int, k: Int,
      tieEps: Double = 0.0): Column =
    GraftColumnBridge.column(
      HierTopKExpr(GraftColumnBridge.expression(vec), coarse, coarseNorms,
        fine, fineNorms, fineOfCoarse, kCoarse, k, tieEps))
}

/** Max cosine of an array<double> vector column against a broadcast
  * reference matrix — the eval-set decontamination shape: the reference
  * side (an eval/benchmark set) is small by nature, so it rides the
  * plan as a codegen reference object and the corpus side is ONE
  * narrow scan with no join at all.
  */
case class MaxCosineExpr(child: Expression, refs: Array[Array[Double]],
    rnorms: Array[Double]) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    MatrixKernels.maxCosine(input.asInstanceOf[ArrayData], refs, rnorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("decontamRefs", refs, "double[][]")
    val nref = ctx.addReferenceObj("decontamNorms", rnorms, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MatrixKernels.maxCosine($c, $cref, $nref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MaxCosineExpr {
  /** Max cosine of `vec` against `refs`; each reference norm √Σx² is
    * computed once here, on the driver.
    */
  def apply(vec: Column, refs: Array[Array[Double]]): Column =
    GraftColumnBridge.column(MaxCosineExpr(GraftColumnBridge.expression(vec), refs,
      refs.map(v => math.sqrt(v.map(x => x * x).sum))))
}
