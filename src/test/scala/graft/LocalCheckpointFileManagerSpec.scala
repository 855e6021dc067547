package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{LocalCheckpointFileManager, StreamingCuration}

/** The java.nio checkpoint file manager keeps the contract Spark's
  * metadata logs and state stores rely on: atomic publish, a Hadoop
  * `FileAlreadyExistsException` for a concurrent writer, clean cancel,
  * and no stale checksum left for Hadoop's checksummed reads.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  /** Runs `body` in a fresh temp directory, removed afterwards. */
  private def inTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_ckpt_fm")
    try body(dir) finally StreamingCuration.deleteStore(dir.toString)
  }

  private def manager(dir: JPath) = new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: LocalCheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: JPath): Set[String] = {
    val ls = Files.list(dir)
    try ls.toArray.map(_.asInstanceOf[JPath].getFileName.toString).toSet
    finally ls.close()
  }

  test("no-overwrite createAtomic onto an existing file throws Hadoop's FileAlreadyExistsException") {
    inTempDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.resolve("0").toUri)
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
      assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "first")
      assert(names(dir) == Set("0"), "the losing writer's temp file must be gone")
    }
  }

  test("cancel() leaves neither a temp file nor the target") {
    inTempDir { dir =>
      val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri),
        overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("overwrite replaces the file and drops a stale .crc, so a checksummed read succeeds") {
    inTempDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.resolve("schema").toUri)
      // written through Hadoop's checksummed local FS: leaves .schema.crc
      val local = FileSystem.getLocal(conf)
      val old = local.create(p, true)
      old.write("old bytes".getBytes(UTF_8))
      old.close()
      assert(Files.exists(dir.resolve(".schema.crc")))
      write(fm, p, "new bytes, longer than the old ones", overwrite = true)
      assert(!Files.exists(dir.resolve(".schema.crc")))
      val in = local.open(p)
      val read = try new String(in.readAllBytes(), UTF_8) finally in.close()
      assert(read == "new bytes, longer than the old ones")
      val viaFm = fm.open(p)
      try assert(new String(viaFm.readAllBytes(), UTF_8) == read) finally viaFm.close()
    }
  }

  test("mkdirs, exists and delete work on nested paths") {
    inTempDir { dir =>
      val fm = manager(dir)
      val nested = new Path(dir.resolve("a/b/c").toUri)
      assert(!fm.exists(nested))
      fm.mkdirs(nested)
      assert(fm.exists(nested) && Files.isDirectory(dir.resolve("a/b/c")))
      val f = new Path(nested, "2.changelog")
      write(fm, f, "delta", overwrite = true)
      assert(fm.exists(f))
      fm.delete(f)
      assert(!fm.exists(f) && fm.exists(nested))
      fm.delete(new Path(dir.resolve("a").toUri))
      assert(!fm.exists(nested) && names(dir).isEmpty)
      fm.delete(new Path(dir.resolve("missing").toUri)) // deleting nothing is no error
    }
  }

  test("a non-file: path takes the inherited Hadoop implementation") {
    inTempDir { target =>
      val vconf = new Configuration(conf)
      vconf.set("fs.viewfs.mounttable.graftspec.link./ckpt", target.toUri.toString)
      val root = new Path("viewfs://graftspec/ckpt")
      val fm = new LocalCheckpointFileManager(root, vconf)
      assert(fm.localFile(root).isEmpty && fm.localFile(new Path("/ckpt/x")).isEmpty)
      assert(manager(target).localFile(new Path("/ckpt/x")).contains(Paths.get("/ckpt/x")))
      // java.nio would resolve viewfs://graftspec/ckpt/... to /ckpt/...;
      // Hadoop's mount table puts the files under the link target
      val p = new Path(root, "offsets/0")
      fm.mkdirs(p.getParent)
      write(fm, p, "v1", overwrite = false)
      assert(fm.exists(p))
      assert(new String(Files.readAllBytes(target.resolve("offsets/0")), UTF_8) == "v1")
      intercept[FileAlreadyExistsException](write(fm, p, "v2", overwrite = false))
      fm.delete(p)
      assert(!Files.exists(target.resolve("offsets/0")))
    }
  }
}
