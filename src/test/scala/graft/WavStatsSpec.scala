package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.WavStatsKernel
import graft.operators.Multimodal

/** Signal-level WAV statistics: RMS/peak/silence/clipping over 16-bit
  * PCM payloads, computed by a codegen kernel with no audio library.
  */
class WavStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
  private def le32(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  /** Mono 16-bit PCM WAV around explicit samples. */
  private def wavOf(samples: Seq[Int], rate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    "RIFF".getBytes("US-ASCII") ++ le32(36 + dataLen) ++ "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(1) ++ le32(rate) ++ le32(rate * 2) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(dataLen) ++
      samples.flatMap(le16(_)).toArray
  }

  test("kernel: sine, silence, and rail samples measure as expected") {
    val amp = 16384
    val sine = (0 until 8000).map(i =>
      math.round(amp * math.sin(2 * math.Pi * 440 * i / 8000.0)).toInt)
    val r = WavStatsKernel.stats(wavOf(sine))
    assert(math.abs(r.getDouble(0) - amp / 32768.0 / math.sqrt(2)) < 0.01) // rms
    assert(math.abs(r.getDouble(1) - amp / 32768.0) < 0.001)               // peak
    assert(r.getDouble(2) < 0.02 && r.getDouble(3) == 0.0)
    assert(r.getLong(4) == 8000L)

    val silent = WavStatsKernel.stats(wavOf(Seq.fill(100)(0)))
    assert(silent.getDouble(0) == 0.0 && silent.getDouble(2) == 1.0)

    val clipped = WavStatsKernel.stats(wavOf(Seq.tabulate(100)(i =>
      if (i % 2 == 0) 32767 else -32768)))
    assert(clipped.getDouble(3) == 1.0 && math.abs(clipped.getDouble(1) - 1.0) < 1e-9)
  }

  test("kernel: non-PCM-16, non-WAV, truncated payloads are null-safe") {
    // 8-bit wav → null (not the supported sample layout)
    assert(WavStatsKernel.stats(ImgFixtures.wav(1, 8000, 8, 100)) == null)
    // not a wav at all
    assert(WavStatsKernel.stats("not audio".getBytes) == null)
    assert(WavStatsKernel.stats(Array.empty[Byte]) == null)
    // truncated mid-sample: the partial sample is ignored, count clamps
    val whole = wavOf(Seq(1000, -1000, 500))
    val trunc = WavStatsKernel.stats(whole.dropRight(1))
    assert(trunc.getLong(4) == 2L)
    // the zero-filled fixture wav reads as all-silence
    val zeros = WavStatsKernel.stats(ImgFixtures.wav(2, 44100, 16, 441))
    assert(zeros.getDouble(2) == 1.0 && zeros.getLong(4) == 882L)
  }

  test("decodeAudioStats runs in the plan; SQL function registered") {
    import spark.implicits._
    val rows = Seq(
      (1L, wavOf((0 until 1000).map(i => (8000 * math.sin(i / 10.0)).toInt))),
      (2L, wavOf(Seq.fill(1000)(0))),
      (3L, "nope".getBytes)).toDF("id", "content")
    val got = Multimodal.decodeAudioStats(rows, "content")
      .select($"id", $"audio_stats.silence_frac")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
      .toMap
    assert(got(1L) < 0.2 && got(2L) == 1.0 && got(3L) == -1.0)
    graft.functions.GraftFunctions.register(spark)
    rows.createOrReplaceTempView("wav_stats_t")
    val viaSql = spark.sql(
      "SELECT id, graft_wav_stats(content).rms AS rms FROM wav_stats_t WHERE id = 2")
      .head()
    assert(viaSql.getDouble(1) == 0.0)
  }
}
