package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

/** One temporary directory per (JVM, prefix, key), made and filled by
  * `init` on first use and removed by a shutdown hook — the fixture memo
  * behind the saved IVF-PQ indexes, the curation store and the dedup
  * manifest, so repeated invocations reuse one directory instead of
  * leaking a copy per call. A throwing `init` memoizes nothing; the next
  * call retries.
  */
object TempDirs {

  private val dirs = new ConcurrentHashMap[String, String]()

  def memo(prefix: String, key: String)(init: String => Unit): String =
    dirs.computeIfAbsent(s"$prefix:$key", _ => {
      val p = Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Exception => () }
      }))
      init(p.toString)
      p.toString
    })
}
