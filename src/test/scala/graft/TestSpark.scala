package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite}
import scala.collection.mutable.ArrayBuffer

/** One shared local session for the whole test JVM (suites are cheap;
  * session startup is not).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8, "graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** A temp directory deleted when the JVM exits: for files Spark may
    * still read after the test that made them, such as added jars.
    */
  def exitTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
      .deleteOnExit(new org.apache.hadoop.fs.Path(dir))
    dir
  }

  /** Spark jobs that `f` starts on this thread. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val started = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "load")
    try {
      val out = f
      // the listener bus delivers in order: once the marker job's start
      // has arrived, so has the start of every job `f` ran
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!started.contains("marker") && System.nanoTime < deadline) Thread.sleep(10)
      org.scalatest.Assertions.assert(started.contains("marker"), "the marker job's start never arrived")
      (out, started.size - 1)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** Temp directories deleted when the test that made them ends, passed or
  * failed. A background thread may still write into one after that (a
  * RocksDB snapshot upload does); what it leaves goes at JVM exit.
  */
trait TempDirs extends TestSuite {
  private val made = ArrayBuffer.empty[String]

  def tempDir(prefix: String): String = {
    val dir = TestSpark.exitTempDir(prefix)
    made.synchronized(made += dir)
    dir
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally made.synchronized {
      made.foreach { dir =>
        try graft.streaming.StreamingCuration.deleteStore(dir)
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      }
      made.clear()
    }
}

// Top-level case classes: Spark encoders cannot be derived for classes
// nested inside a test class.
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)
case class AsOfL(k: Int, t: Long, lv: Int)
case class AsOfR(k: Int, t: Long, rv: Int)
case class Raw(key: Long, id: Long, ts: java.sql.Timestamp, value: Double)
