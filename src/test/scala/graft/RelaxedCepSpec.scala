package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Cep
import graft.operators.Cep.Event
import graft.streaming.StreamingCep

/** Relaxed contiguity + negative patterns ([U] flink-cep
  * Pattern.followedBy/followedByAny/notNext/notFollowedBy): hand cases
  * for each operator plus a randomized regex oracle — over a symbol
  * string, `A followedBy B` with skip-past-consumed resume is exactly
  * the regex `a[^b]*b` scanned with find(), and a notFollowedBy(x)
  * guard adds x to the excluded class.
  */
object RelaxedCepSpec {
  case class REv(key: Long, id: Long, ts: java.sql.Timestamp, sym: String)
}

class RelaxedCepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def evs(s: String, key: Long = 1L): Seq[Event] =
    s.zipWithIndex.map { case (c, i) => Event(key, i.toLong, i.toLong, c.toString) }

  private def run(s: String, elems: Seq[Cep.RelElem],
      withinMs: Long = Long.MaxValue / 4): Seq[(Long, Long, Int)] = {
    import spark.implicits._
    Cep.matchPatternRelaxed(evs(s).toDS(), elems, withinMs).collect()
      .map(m => (m.start_ts, m.end_ts, m.n_events)).toSeq.sorted
  }

  private def regexSpans(s: String, re: String): Seq[(Long, Long)] = {
    val m = java.util.regex.Pattern.compile(re).matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var from = 0
    while (from <= s.length && m.find(from)) {
      out += ((m.start.toLong, m.end.toLong - 1)); from = m.end
    }
    out.toSeq
  }

  test("followedBy skips non-matching events to the FIRST occurrence") {
    // strict (next) fails across the gap; followedBy bridges it
    assert(run("axxb", Seq(Cep.next(Cep.once("a")), Cep.next(Cep.once("b")))).isEmpty)
    assert(run("axxb", Seq(Cep.next(Cep.once("a")), Cep.followedBy(Cep.once("b"))))
      == Seq((0L, 3L, 2)))
    // n_events counts CONSUMED rows only, not the skipped gap
    assert(run("axxxxxb", Seq(Cep.next(Cep.once("a")), Cep.followedBy(Cep.once("b"))))
      .head._3 == 2)
  }

  test("followedBy commits to the first occurrence; followedByAny backtracks") {
    // first b is followed by d, only the second b by c
    val s = "abdbc"
    val fb = Seq(Cep.next(Cep.once("a")), Cep.followedBy(Cep.once("b")),
      Cep.next(Cep.once("c")))
    val fba = Seq(Cep.next(Cep.once("a")), Cep.followedByAny(Cep.once("b")),
      Cep.next(Cep.once("c")))
    assert(run(s, fb).isEmpty) // SKIP_TILL_NEXT: committed to b@1, c!=d fails
    assert(run(s, fba) == Seq((0L, 4L, 3))) // SKIP_TILL_ANY: retries b@3
  }

  test("notNext asserts on the immediate event; notFollowedBy on the skipped span") {
    val ab = Seq(Cep.next(Cep.once("a")), Cep.notNext("x")(_.sym == "x"),
      Cep.followedBy(Cep.once("b")))
    assert(run("axb", ab).isEmpty)        // immediate x kills it
    assert(run("ayxb", ab) == Seq((0L, 3L, 2))) // x later in the gap is fine for notNext
    val guard = Seq(Cep.next(Cep.once("a")), Cep.notFollowedBy("x")(_.sym == "x"),
      Cep.followedBy(Cep.once("b")))
    assert(run("ayxb", guard).isEmpty)    // x anywhere in the gap kills it
    assert(run("ayyb", guard) == Seq((0L, 3L, 2)))
  }

  test("pattern cannot end with notFollowedBy") {
    val e = intercept[IllegalArgumentException](
      run("ab", Seq(Cep.next(Cep.once("a")), Cep.notFollowedBy("x")(_.sym == "x"))))
    assert(e.getMessage.contains("notFollowedBy"))
  }

  test("WITHIN bounds the relaxed occurrence search") {
    val elems = Seq(Cep.next(Cep.once("a")), Cep.followedBy(Cep.once("b")))
    assert(run("axxxb", elems, withinMs = 2).isEmpty) // b at ts 4 > 0 + 2
    assert(run("axb", elems, withinMs = 2) == Seq((0L, 2L, 2)))
  }

  test("quantified relaxed steps consume consecutively at the occurrence") {
    // b+ consumes the consecutive run at the first occurrence
    val elems = Seq(Cep.next(Cep.once("a")), Cep.followedBy(Cep.plus("b")))
    assert(run("axbbbx", elems) == Seq((0L, 4L, 4)))
  }

  test("streaming relaxed pattern agrees with batch across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the b that closes the first match arrives two micro-batches after
    // its a; an x in the second gap kills the guarded variant's match
    val s = "ayyb" + "axb" + "ab"
    val elems = Seq(Cep.next(Cep.once("a")),
      Cep.notFollowedBy("x")(_.sym == "x"), Cep.followedBy(Cep.once("b")))
    val events = evs(s).map(e => e.copy(ts = e.ts * 1000))
    val input = MemoryStream[RelaxedCepSpec.REv]
    def rev(e: Event) = RelaxedCepSpec.REv(e.key, e.id, new java.sql.Timestamp(e.ts), e.sym)
    import org.apache.spark.sql.functions.{lit, unix_millis}
    val q = StreamingCep.matchPatternRelaxed(
        input.toDF().withWatermark("ts", "2 seconds")
          .select($"key", $"id", unix_millis($"ts").as("ts"), $"sym",
            lit(0.0).as("value")).as[Event],
        elems, withinMs = Long.MaxValue / 4)
      .writeStream.outputMode("append").format("memory").queryName("rel_s").start()
    try {
      events.grouped(3).foreach { b => input.addData(b.map(rev): _*); q.processAllAvailable() }
      input.addData(rev(Event(99L, 999L, 999000L, "z"))); q.processAllAvailable()
      input.addData(rev(Event(99L, 998L, 999900L, "z"))); q.processAllAvailable()
      val got = spark.table("rel_s").as[Cep.RMatch].collect()
        .filter(_.key == 1L).map(m => (m.start_ts, m.end_ts, m.n_events)).toSet
      val want = Cep.matchPatternRelaxed(events.toDS(), elems,
        withinMs = Long.MaxValue / 4).collect()
        .map(m => (m.start_ts, m.end_ts, m.n_events)).toSet
      assert(got == want, s"streaming $got vs batch $want")
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("iterative conditions see the partial match") {
    import spark.implicits._
    // B+ accepts only values above the FIRST event's value (the classic
    // flink-cep IterativeCondition example): from a=5.0, the 6.0 and 7.0
    // qualify, the 4.0 breaks the consecutive run
    val es = Seq(
      Event(1, 1, 1, "a", 5.0), Event(1, 2, 2, "x", 0.0),
      Event(1, 3, 3, "b", 6.0), Event(1, 4, 4, "b", 7.0),
      Event(1, 5, 5, "b", 4.0))
    val elems = Seq(
      Cep.next(Cep.once("a")),
      Cep.followedBy(Cep.whenCtx("B", 1, Cep.MaxTimes) { (e, ctx) =>
        e.sym == "b" && e.value > ctx.head.value
      }))
    val got = Cep.matchPatternRelaxed(es.toDS(), elems, Long.MaxValue / 4)
      .collect().map(m => (m.start_ts, m.end_ts, m.n_events)).toSeq
    assert(got == Seq((1L, 4L, 3))) // a@1, b@3, b@4; b@5 (4.0 <= 5.0) excluded
    // this step's own earlier repetitions are part of the context
    val strictlyRising = Seq(
      Cep.next(Cep.once("a")),
      Cep.followedBy(Cep.whenCtx("B", 1, Cep.MaxTimes) { (e, ctx) =>
        e.sym == "b" && e.value > ctx.last.value
      }))
    val es2 = Seq(
      Event(1, 1, 1, "a", 5.0), Event(1, 2, 2, "b", 6.0),
      Event(1, 3, 3, "b", 6.0), Event(1, 4, 4, "b", 8.0))
    val got2 = Cep.matchPatternRelaxed(es2.toDS(), strictlyRising, Long.MaxValue / 4)
      .collect().map(m => (m.start_ts, m.end_ts, m.n_events)).toSeq
    assert(got2 == Seq((1L, 2L, 2))) // 6.0 > 5.0, but the second 6.0 is not > 6.0
    // the strict API runs the same walk: its steps are `next` elements
    val steps = Seq(Cep.once("a"), Cep.whenCtx("B", 1, Cep.MaxTimes) { (e, ctx) =>
      e.sym == "b" && e.value > ctx.last.value
    })
    val strict = Cep.matchPattern(es2.toDS(), steps, Long.MaxValue / 4)
      .collect().map(m => (m.start_ts, m.end_ts, m.n_events)).toSeq
    val relaxed = Cep.matchPatternRelaxed(es2.toDS(), steps.map(Cep.next),
      Long.MaxValue / 4).collect().map(m => (m.start_ts, m.end_ts, m.n_events)).toSeq
    assert(strict == relaxed && strict == Seq((1L, 2L, 2)))
  }

  test("funnel: every anchored start resolves to completed or abandoned") {
    import spark.implicits._
    // views at 1, 10, 30; purchases at 12, 100: view@1 completes at 12
    // (within 20), view@10 completes at 12, view@30 has no purchase
    // within its window -> abandoned with just the view consumed
    def e(id: Long, sym: String) = Event(1L, id, id, sym)
    val es = Seq(e(1, "v"), e(5, "x"), e(10, "v"), e(12, "p"),
      e(30, "v"), e(100, "p"))
    val elems = Seq(Cep.next(Cep.once("v")), Cep.followedBy(Cep.once("p")))
    val got = Cep.matchFunnel(es.toDS(), elems, withinMs = 20L).collect()
      .map(f => (f.start_id, f.end_id, f.n_events, f.completed)).toSet
    assert(got == Set((1L, 12L, 2, true), (10L, 12L, 2, true),
      (30L, 30L, 1, false)))
  }

  test("streaming funnel agrees with batch; abandonment waits for the window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{lit, unix_millis}
    implicit val sqlCtx = spark.sqlContext
    val elems = Seq(Cep.next(Cep.once("v")), Cep.followedBy(Cep.once("p")))
    def e(id: Long, sym: String) = Event(1L, id, id * 1000, sym)
    val es = Seq(e(1, "v"), e(2, "x"), e(3, "p"), e(10, "v"), e(11, "x"))
    val withinMs = 5000L
    val input = MemoryStream[RelaxedCepSpec.REv]
    def rev(ev: Event) = RelaxedCepSpec.REv(ev.key, ev.id,
      new java.sql.Timestamp(ev.ts), ev.sym)
    val q = StreamingCep.matchFunnel(
        input.toDF().withWatermark("ts", "1 second")
          .select($"key", $"id", unix_millis($"ts").as("ts"), $"sym",
            lit(0.0).as("value")).as[Event],
        elems, withinMs)
      .writeStream.outputMode("append").format("memory").queryName("funnel_s").start()
    try {
      es.grouped(2).foreach { b => input.addData(b.map(rev): _*); q.processAllAvailable() }
      // v@10 is still an OPEN funnel: its 5 s window has not closed
      val early = spark.table("funnel_s").as[Cep.FunnelOut].collect()
        .filter(_.key == 1L).map(f => (f.start_id, f.completed)).toSet
      assert(early == Set((1L, true)), s"early $early")
      // advance the watermark past the window -> v@10 resolves abandoned
      input.addData(rev(e(999, "z"))); q.processAllAvailable()
      input.addData(rev(e(1000, "z"))); q.processAllAvailable()
      val got = spark.table("funnel_s").as[Cep.FunnelOut].collect()
        .filter(f => f.key == 1L && f.start_id < 900)
        .map(f => (f.start_id, f.end_id, f.n_events, f.completed)).toSet
      val want = Cep.matchFunnel(es.toDS(), elems, withinMs).collect()
        .map(f => (f.start_id, f.end_id, f.n_events, f.completed)).toSet
      assert(got == want, s"streaming $got vs batch $want")
      assert(got == Set((1L, 3L, 2, true), (10L, 10L, 1, false)))
    } finally q.stop()
  }

  test("randomized regex oracle: followedBy and a notFollowedBy guard") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abxyz"
    (1 to 40).foreach { _ =>
      val s = Seq.fill(24)(alphabet(rnd.nextInt(alphabet.length))).mkString
      val fb = run(s, Seq(Cep.next(Cep.once("a")), Cep.followedBy(Cep.once("b"))))
      assert(fb.map(t => (t._1, t._2)) == regexSpans(s, "a[^b]*b"), s"followedBy on <$s>")
      val guarded = run(s, Seq(Cep.next(Cep.once("a")),
        Cep.notFollowedBy("x")(_.sym == "x"), Cep.followedBy(Cep.once("b"))))
      assert(guarded.map(t => (t._1, t._2)) == regexSpans(s, "a[^xb]*b"),
        s"notFollowedBy on <$s>")
    }
  }
}
