package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Regenerates the committed golden CSVs for [[Golden.pinned]] at the
  * sf0.01 fixture. Run after an INTENTIONAL kernel-contract change only:
  *
  *   sbt "runMain graft.tools.MakeGolden"
  *
  * then review the diff under src/test/resources/golden/ before committing.
  */
object MakeGolden {
  def main(args: Array[String]): Unit = {
    val sfDir  = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = Paths.get("src/test/resources/golden")
    Files.createDirectories(outDir)
    val spark = GraftSession.local()
    Golden.pinned.foreach { name =>
      val df    = Golden.kernelSurface(name)(spark, sfDir)
      val lines = (df.columns.sorted.mkString(",") + "\n") +
        Golden.canonical(df).mkString("\n") + "\n"
      Files.write(outDir.resolve(s"${name}_sf001.csv"),
        lines.getBytes(StandardCharsets.UTF_8))
      println(s"[golden] wrote ${name}_sf001.csv (${Golden.canonical(df).size} rows)")
    }
    spark.stop()
  }
}
