package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the declared query suite against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line
  * {"metric":...,"value":total_sec,"unit":"sec","queries":{name:sec},
  * "failed":[names],"sf":dir,"repeat":N,"load":[...],"load_end":[...]}.
  * The same line is also written to SPARK_GRAFT_BENCH_OUT (default
  * /tmp/graft_bench.json) so the driver can parse it without fishing it
  * out of sbt's log stream.
  *
  * Each query is forced end-to-end with a noop-format write (full compute,
  * no collect-to-driver, no sink I/O in the timing). A failed query is
  * reported at -1 in "queries", listed in "failed", and makes "value"
  * null — a regression can't silently shrink the headline total.
  *
  * Ambient-load hardening (three rounds of single-pass driver benches
  * produced fake contiguous >2x stretches when a background process hit
  * the box mid-suite): the suite now runs SPARK_GRAFT_BENCH_REPEAT
  * (default 3) full rounds inside the one JVM, each round visiting the
  * queries in a different deterministically-shuffled order, and reports
  * the per-query MEDIAN across rounds. A load spike therefore hits
  * different queries in different rounds and is voted out by the median,
  * instead of masquerading as a regression in one alphabetical stretch.
  * /proc/loadavg is recorded before and after so a loaded box is visible
  * in the artifact itself.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional focus list (e.g. timing one query, or the sf1 scale runs);
    // unset for full-suite runs. Checked before the session starts.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(SparkEntry.selectQueries)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"),
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def loadavg: String =
      try {
        val parts = java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/loadavg")).trim.split("\\s+")
        parts.take(3).mkString("[", ",", "]")
      } catch { case _: Exception => "null" }
    val loadStart = loadavg

    // warm up JIT/codegen paths so the first timed query isn't charged
    // for JVM startup (observed ~8s on q01 otherwise)
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

    // within-JVM full-suite rounds; median per query (see header). A
    // focused probe can still pin a different count via the env var.
    val repeat = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "3").toInt)
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // one timing per (round, query); each round shuffles with its own
    // fixed seed so runs are reproducible but no query keeps a neighbor
    val timings = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    (1 to repeat).foreach { round =>
      val order = new scala.util.Random(round.toLong * 1000003L).shuffle(names)
      order.foreach { n =>
        timings(n) = runOnce(n, SparkEntry.queries(n)) :: timings(n)
      }
    }
    def median(ts: List[Double]): Double =
      if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2)
    val results = names.map(n => n -> median(timings(n)))
    val failed = results.filter(_._2 < 0).map(_._1)
    val total =
      if (failed.nonEmpty) "null"
      else f"${results.map(_._2).sum}%.3f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","repeat":$repeat,""" +
      s""""load":$loadStart,"load_end":$loadavg,"queries":$qs,"failed":$fj,"sf":"$sfDir"}"""
    // a SHORT summary line around the big one: the driver's stdout
    // capture has truncated the ~5KB per-query line mid-stream twice
    // (BENCH_r06, BENCH_r12 "parsed": null) — a sub-200-byte line with
    // the headline total survives both a tail-bytes cut (printed after)
    // and a per-line length cap (short either way)
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","repeat":$repeat,""" +
      s""""n_queries":${results.size},"failed":$fj,"sf":"$sfDir","detail":"tmp/bench_last.json"}"""
    println(summary)
    println(line)
    println(summary)
    // the stdout line can be truncated mid-stream by log interleaving
    // (BENCH_r06's tail was); the files are the canonical whole-suite
    // records — one at a caller-set path, one at a stable repo-relative
    // path a later reader can always find. Focused probe runs
    // (SPARK_GRAFT_BENCH_ONLY) get their own file so they can never
    // clobber the last full-suite record.
    val outs = Seq(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json"),
      if (only.isDefined) "tmp/bench_focus.json" else "tmp/bench_last.json")
    outs.foreach { out =>
      try {
        val p = java.nio.file.Paths.get(out)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, line + "\n")
      } catch {
        case e: Throwable => System.err.println(s"[bench] could not write $out: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
