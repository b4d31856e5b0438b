package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** The one engine config: specs run the join planner the bench times, and
  * that planner only builds a shuffled-hash join where every build
  * partition fits the local-map threshold — a larger (or skewed) build
  * side falls back to sort-merge instead of risking a task OOM.
  */
class GraftSessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val threshold = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"

  test("the test session carries the bench join planner") {
    assert(spark.conf.get("spark.sql.join.preferSortMergeJoin") === "false")
    assert(JavaUtils.byteStringAsBytes(spark.conf.get(threshold)) === (64L << 20))
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("SHJ scale safety: a build side over the local-map threshold runs as sort-merge") {
    val conf = spark.conf
    val keys = Seq(threshold,
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val old = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      // 64m scaled to 64k; the advisory size keeps its ratio to the
      // threshold (the runtime rule needs advisory <= threshold). No
      // broadcast also turns off the static size-based SHJ choice, so the
      // join strategy rests on the runtime local-map rule alone.
      conf.set(threshold, "64k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      def side(n: Long, key: String): DataFrame = spark.range(n)
        .selectExpr(s"$key AS k", "sha2(CAST(id AS STRING), 256) AS v")
      // ~1 MB of incompressible rows per stream partition
      val stream = side(40000, "id % 200")
      def joinKind(build: DataFrame): Seq[String] = {
        val joined = stream.join(build.withColumnRenamed("v", "w"), "k")
        assert(joined.collect().length === 40000)
        collect(joined.queryExecution.executedPlan) {
          case _: ShuffledHashJoinExec => "ShuffledHashJoin"
          case _: SortMergeJoinExec => "SortMergeJoin"
          case _: BroadcastHashJoinExec => "BroadcastHashJoin"
        }
      }

      // under: 200 rows, a few KB per partition
      assert(joinKind(side(200, "id")) === Seq("ShuffledHashJoin"))
      // over: the same 200 keys plus one hot key (absent from the stream
      // side) whose ~800 KB lands in a single build partition
      val skewed = side(200, "id").union(side(8000, "-1L"))
      assert(joinKind(skewed) === Seq("SortMergeJoin"))
    } finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("GraftSession is the only SparkSession builder in the sources") {
    val needle = "SparkSession" + ".builder"
    def scalaFiles(dir: File): Seq[File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val files = Seq("src/main", "src/test").flatMap(d => scalaFiles(new File(d)))
    assert(files.exists(_.getName == "GraftSession.scala"),
      s"source tree not found from ${new File(".").getAbsolutePath}")
    val offenders = files.filter(f => f.getName != "GraftSession.scala" &&
      Files.readString(f.toPath).contains(needle))
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not $needle: ${offenders.mkString(", ")}")
  }
}
