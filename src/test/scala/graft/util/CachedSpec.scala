package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The scope's ownership rules: what it held is released even when the
  * body throws, a frame cached by someone else stays theirs, and an
  * adopted callee output goes with the caller's scope.
  */
class CachedSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame(n: Long): DataFrame = spark.range(n).toDF("id")

  test("a body that holds two frames and then throws releases both") {
    spark.catalog.clearCache()
    val before = persistedIds
    var held = Seq.empty[DataFrame]
    intercept[IllegalStateException] {
      Cached { c =>
        held = Seq(c.hold(frame(101), fill = true), c.hold(frame(102), fill = true))
        assert((persistedIds -- before).size === 2, "both holds must be filled caches")
        throw new IllegalStateException("operator failed")
      }
    }
    assert((persistedIds -- before).isEmpty,
      s"a throwing body leaked ${persistedIds -- before}")
    assert(held.forall(_.storageLevel === StorageLevel.NONE))
  }

  test("a pre-cached input stays cached after the scope exits") {
    spark.catalog.clearCache()
    val pre = frame(103).persist(StorageLevel.MEMORY_AND_DISK)
    pre.count()
    val ids = persistedIds
    val out = Cached { c =>
      assert(c.hold(pre, fill = true) eq pre)
      pre.filter("id % 2 = 0")
    }
    assert(pre.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(ids.subsetOf(persistedIds), "the caller's cache was released by the scope")
    out.unpersist(blocking = true)
    pre.unpersist(blocking = true)
  }

  test("an adopted callee output is released with the caller's scope") {
    spark.catalog.clearCache()
    val before = persistedIds
    var inner: DataFrame = null
    val out = Cached { c =>
      inner = c.adopt(Cached(_ => frame(104)))
      assert(inner.storageLevel === StorageLevel.MEMORY_AND_DISK)
      inner.filter("id % 3 = 0")
    }
    assert(inner.storageLevel === StorageLevel.NONE,
      "the adopted output must be released when the caller's scope ends")
    assert((persistedIds -- before).size === 1, "only the caller's output stays")
    out.unpersist(blocking = true)
    assert((persistedIds -- before).isEmpty)
  }
}
