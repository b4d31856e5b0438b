package graft.util

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[Cached]] owns every cache in the operators and the streaming sinks:
  * a persist, fill or release written by hand anywhere under those
  * packages fails here. The one exemption is the per-round RDD lineage
  * cut in `GraphOps.connectedComponents` — a Scope holds DataFrames, not
  * RDDs.
  */
class CacheDriftSpec extends AnyFunSuite {

  private val needles = Seq(".persist(", ".cache()", "unpersist", "storageLevel")

  private def exempt(f: File, line: String): Boolean =
    f.getName == "GraphOps.scala" &&
      (line.contains("df.rdd.persist(") || line.matches(""".*\b(cur|ls)Rdd\.unpersist\(.*"""))

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("Cached is the only cache owner under operators/ and streaming/") {
    assert(new File("src/main/scala/graft/util/Cached.scala").isFile,
      s"source tree not found from ${new File(".").getAbsolutePath}")
    val files = Seq("operators", "streaming")
      .flatMap(p => scalaFiles(new File(s"src/main/scala/graft/$p")))
    assert(files.exists(_.getName == "GraphOps.scala"))
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
      if needles.exists(line.contains) && !exempt(f, line)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"hand-written cache calls outside graft.util.Cached:\n${offenders.mkString("\n")}")
  }
}
