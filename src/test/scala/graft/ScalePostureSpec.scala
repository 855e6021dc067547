package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Multimodal

/** Scale-posture mechanics that only show up at cluster scale but are
  * testable locally: bucketed co-located joins (no shuffle), per-batch
  * dimension refresh (the broadcast-state pattern), and per-partition
  * batched decode.
  */
class ScalePostureSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("lshParams meets the target recall by the public sign-LSH identity") {
    import graft.operators.Similarity.lshParams
    def recall(b: Int, t: Int, threshold: Double): Double = {
      val p = 1.0 - math.acos(threshold) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, b), t)
    }
    for (n <- Seq(2000L, 20000L, 2000000L); th <- Seq(0.5, 0.8, 0.9, 0.95)) {
      val (b, t) = lshParams(n, th, targetRecall = 0.99)
      assert(recall(b, t, th) >= 0.99, s"n=$n th=$th -> b=$b t=$t")
      // bucket-size control: b planes split n rows into 2^b buckets
      assert((n >> b) <= 64, s"expected bucket <= target at n=$n th=$th (b=$b)")
    }
    // tighter thresholds need FEWER tables at the same bucket budget —
    // the reason loose thresholds (0.35) are not a scale path
    val (_, tLoose) = lshParams(20000L, 0.5)
    val (_, tTight) = lshParams(20000L, 0.95)
    assert(tTight < tLoose)
  }

  test("IVF auto geometries: fixture cells pinned, scale laws hold") {
    import graft.operators.Similarity.{ivfAutoCells, ivf2AutoCells}
    // flat path: fixture-range inputs give the legacy target-64 counts
    // (golden stability), the crossover is continuous, and beyond it the
    // balanced rule keeps total work Θ(n^1.5) — NOT the frozen-geometry
    // n² the old 256 cap produced (the sf10 probe measured it at 72.8×)
    assert(ivfAutoCells(500L, 4) == 32)
    assert(ivfAutoCells(2000L, 4) == 32)
    assert(ivfAutoCells(16384L, 4) == 256) // both formulas agree here
    for (n <- Seq(100000L, 1000000L, 100000000L)) {
      val c = ivfAutoCells(n, 4)
      val balanced = math.sqrt(n.toDouble * 4)
      assert(math.abs(c - balanced) <= 1, s"n=$n cells=$c vs √(n·p)=$balanced")
      // per-query work (assignment + probe scan) stays Θ(√n)
      val perQuery = c + 4.0 * n / c
      assert(perQuery <= 2.1 * math.sqrt(n.toDouble * 4), s"n=$n perQuery=$perQuery")
    }
    // two-level path: the 500-vector fixture reproduces the historical
    // 16/8 geometry exactly (q102 golden pinned), and at scale every
    // per-query term is Θ(∛n)
    assert(ivf2AutoCells(500L) == ((16, 8)))
    for (n <- Seq(200000L, 100000000L)) {
      val (c, f) = ivf2AutoCells(n)
      val cbrt = math.cbrt(n.toDouble)
      assert(math.abs(c - 2 * cbrt) <= 1 && math.abs(f - cbrt) <= 1, s"n=$n -> ($c, $f)")
      val cellSize = n.toDouble / (c.toDouble * f)
      assert(cellSize <= cbrt, s"n=$n fine-cell size $cellSize above ∛n")
    }
    // the production-recall lever the q148 chain deploys: at a tight
    // threshold the 0.99 deployment target needs ~3× fewer tables than
    // the six-nines correctness-harness setting (same planes)
    val (b99, t99) = graft.operators.Similarity.lshParams(400000L, 0.95)
    val (b6, t6) = graft.operators.Similarity.lshParams(400000L, 0.95,
      targetRecall = 0.999999)
    assert(b99 == b6, "same bucket-size rule → same plane count")
    assert(t6 >= 2 * t99 && t6 <= 4 * t99, s"six-nines T=$t6 vs production T=$t99")
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "av")
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_a")
    (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "bv")
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_b")
    try {
      // AQE would hide the exchange decision; read the final plan string
      val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "k")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("foreachBatch dimension refresh: each micro-batch joins the CURRENT dim (broadcast-state analog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // NOTE: a plain stream-static join pins the file listing at plan time
    // (overwriting the dim mid-query throws FILE_NOT_EXIST) — the refresh
    // pattern is re-reading the dimension INSIDE foreachBatch, the analog
    // of Flink's broadcast-state updates from a control stream.
    val dimDir = tempDir("graft_dim")
    Seq((1L, "v1")).toDF("k", "tag").write.mode("overwrite").parquet(dimDir)
    val input = MemoryStream[Ev]
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val q = input.toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val dim = spark.read.parquet(dimDir) // fresh listing per batch
        batch.join(broadcast(dim), batch("user_id") === dim("k"), "left")
          .select(batch("event_id"), dim("tag"))
          .collect().foreach(r => seen.put(r.getLong(0), r.getString(1)))
        ()
      }
      .start()
    try {
      input.addData(Ev(1, new java.sql.Timestamp(1000), 1, "a", 1.0))
      q.processAllAvailable()
      // "control stream" updates the dimension between batches
      Seq((1L, "v2")).toDF("k", "tag").write.mode("overwrite").parquet(dimDir)
      input.addData(Ev(2, new java.sql.Timestamp(2000), 1, "a", 1.0))
      q.processAllAvailable()
      assert(seen.get(1L) == "v1" && seen.get(2L) == "v2")
    } finally q.stop()
  }

  test("mapPartitions batched decode appends decoded fields row-for-row, deterministically") {
    import spark.implicits._
    val df = Seq(
      (1L, ImgFixtures.png(800, 600)),
      (2L, ImgFixtures.jpeg(1024, 768)),
      (3L, "not-an-image".getBytes("UTF-8")))
      .toDF("id", "content")
      .repartition(3)
    val out = Multimodal.decodePartitions(df, "content")
    assert(out.count() == 3)
    val rows = out.select($"id", $"dec_format", $"dec_width", $"dec_height").collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(rows(1L) == ((Some("png"), Some(800), Some(600))))
    assert(rows(2L) == ((Some("jpeg"), Some(1024), Some(768))))
    assert(rows(3L) == ((None, None, None)))
    val again = Multimodal.decodePartitions(df, "content")
      .select($"id", $"dec_format", $"dec_width", $"dec_height").collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(again == rows)
  }

  test("CEP bounded scan: a hot key retains one WITHIN window, not its history") {
    import graft.operators.Cep
    // one key with 200k events, 1 ms apart, WITHIN = 1 s → a full-history
    // buffer would hold 200k events; the bounded scan must never see more
    // than ~window occupancy (1000) + one chunk (4096) at a time.
    val n = 200000
    val withinMs = 1000L
    def mkEvents: Iterator[Cep.Event] = (0 until n).iterator.map { i =>
      val sym = i % 10 match {
        case 0 => "A"
        case 1 | 2 => "B"
        case 3 => "C"
        case _ => "X"
      }
      Cep.Event(key = 1L, id = i.toLong, ts = i.toLong, sym = sym, value = i.toDouble)
    }
    val steps = IndexedSeq(Cep.once("A"), Cep.plus("B"), Cep.once("C"))
    var maxSeen = 0
    val bounded = Cep.boundedScanPartition(mkEvents) { (events, open, wm) =>
      maxSeen = math.max(maxSeen, events.length)
      Cep.scan(events, steps, withinMs, Cep.SkipPastLastRow, open, wm)
    }.toVector
    assert(maxSeen <= 6000, s"lookback buffer grew to $maxSeen events")
    assert(maxSeen < n / 10, "buffer must be far below the key's history")
    // and the bounded scan emits exactly what the unbounded scan would
    val all = mkEvents.toArray
    val (unbounded, _) = Cep.scan(all, steps, withinMs, Cep.SkipPastLastRow,
      openEnded = false, wm = Long.MaxValue)
    assert(bounded == unbounded.toVector)
  }

  test("CEP bounded scan matches unbounded across skip strategies and key changes") {
    import graft.operators.Cep
    val rnd = new scala.util.Random(42)
    val syms = Array("A", "B", "C", "X")
    // several keys back-to-back in one sorted run, random symbol soup
    val events = (0 until 3).flatMap { k =>
      (0 until 5000).map { i =>
        Cep.Event(key = k.toLong, id = i.toLong, ts = i.toLong * 3,
          sym = syms(rnd.nextInt(syms.length)), value = i.toDouble)
      }
    }
    val steps = IndexedSeq(Cep.once("A"), Cep.times("B", 1, 3), Cep.once("C"))
    for (skip <- Seq(Cep.SkipPastLastRow, Cep.SkipToNextRow)) {
      val bounded = Cep.boundedScanPartition(events.iterator) { (ev, open, wm) =>
        Cep.scan(ev, steps, 120L, skip, open, wm)
      }.toVector
      val unbounded = events.groupBy(_.key).toSeq.sortBy(_._1).flatMap { case (_, ks) =>
        Cep.scan(ks.toArray, steps, 120L, skip, openEnded = false, wm = Long.MaxValue)._1
      }.toVector
      assert(bounded == unbounded, s"skip=$skip")
    }
  }

  test("CEP bounded scan fuzz: random patterns, skips, windows vs unbounded") {
    import graft.operators.Cep
    import graft.plans.MatchRecognize
    val rnd = new scala.util.Random(77)
    val syms = Array("A", "B", "C", "X")
    // bounded ≡ unbounded per key, keyed runs back-to-back in one sorted run
    def check[E, O](name: String, trial: Int, events: Seq[E], keyOf: E => Any)(
        bounded: Iterator[E] => Iterator[O], unbounded: Array[E] => Seq[O])(
        implicit tag: scala.reflect.ClassTag[E]): Unit = {
      val want = events.groupBy(keyOf).toSeq.sortBy(_._1.toString)
        .flatMap { case (_, ks) => unbounded(ks.toArray) }.map(_.toString).toVector
      val got = bounded(events.iterator).map(_.toString).toVector
      assert(got == want, s"$name trial $trial")
    }
    for (trial <- 0 until 8) {
      // keys longer than a scan chunk, so each key is rescanned open-ended
      val events = (0 until 2).flatMap { k =>
        val n = Cep.ScanChunk + 500 + rnd.nextInt(2000)
        var ts = 0L
        (0 until n).map { i =>
          ts += 1 + rnd.nextInt(3)
          Cep.Event(key = k.toLong, id = i.toLong, ts = ts,
            sym = syms(rnd.nextInt(syms.length)), value = rnd.nextInt(10).toDouble)
        }
      }
      def randStep(): Cep.Step = {
        val sym = syms(rnd.nextInt(3)) // A/B/C
        val rel = rnd.nextBoolean()
        rnd.nextInt(4) match {
          case 0 => Cep.PStep(sym, 1, 1)
          case 1 => Cep.PStep(sym, 0, 1, rel)
          case 2 => Cep.PStep(sym, 1, Cep.MaxTimes, rel)
          case 3 => Cep.PStep(sym, 1 + rnd.nextInt(2), 2 + rnd.nextInt(3), rel)
        }
      }
      val steps = IndexedSeq.fill(2 + rnd.nextInt(3))(randStep())
      val skip = if (rnd.nextBoolean()) Cep.SkipPastLastRow else Cep.SkipToNextRow
      val within = Seq(30L, 120L, 600L, Long.MaxValue / 4)(rnd.nextInt(4))
      val ctx = s"steps=$steps skip=$skip within=$within"
      check(s"strict $ctx", trial, events, (_: Cep.Event).key)(
        it => Cep.boundedScanPartition(it)(Cep.scan(_, steps, within, skip, _, _)),
        ks => Cep.scan(ks, steps, within, skip, openEnded = false, wm = Long.MaxValue)._1)

      // relaxed contiguity and negatives over a closed window (an open
      // window never resolves a relaxed search before the key ends)
      val relWithin = Seq(30L, 120L, 600L)(rnd.nextInt(3))
      val elems = Cep.next(randStep()) +: IndexedSeq.fill(1 + rnd.nextInt(3)) {
        val neg = if (rnd.nextInt(4) == 0) {
          val sym = syms(rnd.nextInt(4))
          Seq(if (rnd.nextBoolean()) Cep.notNext(sym)(_.sym == sym)
              else Cep.notFollowedBy(sym)(_.sym == sym))
        } else Nil
        neg :+ (rnd.nextInt(3) match {
          case 0 => Cep.next(randStep())
          case 1 => Cep.followedBy(randStep())
          case 2 => Cep.followedByAny(randStep())
        })
      }.flatten
      val overlapping = rnd.nextBoolean()
      val rctx = s"elems=$elems within=$relWithin overlapping=$overlapping"
      check(s"relaxed $rctx", trial, events, (_: Cep.Event).key)(
        it => Cep.boundedScanPartition(it)(
          Cep.scanRelaxed(_, elems, relWithin, overlapping, _, _)),
        ks => Cep.scanRelaxed(ks, elems, relWithin, overlapping,
          openEnded = false, wm = Long.MaxValue)._1)
      check(s"funnel $rctx", trial, events, (_: Cep.Event).key)(
        it => Cep.boundedScanPartition(it)(Cep.scanFunnel(_, elems, relWithin, _, _)),
        ks => Cep.scanFunnel(ks, elems, relWithin, openEnded = false, wm = Long.MaxValue)._1)

      // the measured MATCH_RECOGNIZE kernel: variables A/B/C are the
      // symbols, MATCH_NUMBER carries across rescans of a key, and some
      // trials cap B with a running SUM(B.value) DEFINE
      val rows = events.map(e => MatchRecognize.MrRow(s"k${e.key}", e.ts,
        e.sym match { case "A" => 1L; case "B" => 2L; case "C" => 4L; case _ => 0L },
        Seq(0.0, 0.0, e.value, e.value), Seq(null, null, e.value.toString,
          e.value.toString), null, Seq(e.value)))
      val varOf = Map("A" -> 0, "B" -> 1, "C" -> 2)
      val agg = if (rnd.nextBoolean()) null else MatchRecognize.AggSpec(Array(1),
        Map(1 -> Seq(MatchRecognize.AggCond(0, "<", 5.0 + rnd.nextInt(20)))),
        IndexedSeq(MatchRecognize.AggTerm("SUM", "B", "value")))
      val kernel = MatchRecognize.Kernel(IndexedSeq(steps.map(Cep.next)),
        IndexedSeq(steps.map {
          case s: Cep.PStep => Seq(s.sym -> varOf(s.sym))
          case s            => fail(s"unexpected step $s")
        }),
        Seq(MatchRecognize.Measure("MATCH_NUMBER", "", "*", "mn"),
          MatchRecognize.Measure("COUNT", "B", "*", "nb"),
          MatchRecognize.Measure("SUM", "B", "value", "sb"),
          MatchRecognize.Measure("LAST", "A", "value", "la")),
        Array.fill(4)(false), within, skip, Map.empty, agg)
      check(s"measured $ctx agg=${agg != null}", trial, rows,
        (_: MatchRecognize.MrRow).key)(
        it => kernel.scanPartition(it)((_, m, _) => Seq(m.copy(rowCls = Vector.empty))),
        ks => kernel.scan(ks, openEnded = false, wm = Long.MaxValue, 0L)._1
          .map(_.copy(rowCls = Vector.empty))) // row indices are buffer-relative
    }
  }
}
