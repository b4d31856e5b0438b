package graft.util

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one cache-ownership policy of the operators and the streaming
  * sinks. Every cache is `MEMORY_AND_DISK`; what differs between sites is
  * only whether a frame is filled eagerly and when it is released, and a
  * [[Scope]] fixes both:
  *
  *  - [[Scope.hold]] caches a frame for the rest of the scope, filling it
  *    with one `count()` only where the site asks. A frame that is already
  *    cached belongs to whoever cached it: it comes back as is, unfilled,
  *    and the scope never releases it.
  *  - [[Scope.adopt]] takes over a cached frame a callee returned (the
  *    output of another `Cached` body), so it is released with this scope.
  *  - On exit every frame the scope held or adopted is released
  *    (`blocking = false`) — after the output fills, and also when the body
  *    throws.
  *
  * [[Cached.apply]] returns its body's frame persisted and filled. The
  * caller owns that output, and its own plan is the cached plan, so a
  * plain `unpersist()` really releases it (a sort stacked on a cached
  * sub-plan would make that call a silent no-op in the CacheManager).
  */
object Cached {

  private val Level = StorageLevel.MEMORY_AND_DISK

  final class Scope private[Cached] () {
    private val owned = ArrayBuffer.empty[DataFrame]

    def hold(df: DataFrame, fill: Boolean = false): DataFrame =
      if (df.storageLevel != StorageLevel.NONE) df
      else {
        val p = df.persist(Level)
        owned += p
        if (fill) p.count()
        p
      }

    def adopt(df: DataFrame): DataFrame = { owned += df; df }

    private[Cached] def release(): Unit = owned.foreach(_.unpersist(blocking = false))
  }

  /** `body`'s frame, persisted and filled; the caller owns it. */
  def apply(body: Scope => DataFrame): DataFrame = scope { c =>
    val out = body(c).persist(Level)
    try out.count()
    catch { case NonFatal(e) => out.unpersist(blocking = false); throw e }
    out
  }

  /** Runs `body`, then releases what its scope held or adopted. */
  def scope[T](body: Scope => T): T = {
    val c = new Scope
    try body(c) finally c.release()
  }
}
