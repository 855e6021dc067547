package graft

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
