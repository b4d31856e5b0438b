package graft

import org.apache.spark.sql.SparkSession

/** The one engine configuration: every bench, verify, smoke, tool and test
  * session is built here, so what the specs check and Verify dumps is
  * planned exactly as the bench times it. Catalyst does all relational
  * work, so the join planner is part of the program: shuffled-hash joins
  * are allowed where each build partition fits a 64 MB local map, and
  * larger build sides fall back to sort-merge. `events.parquet` carries
  * TIMESTAMP(NANOS), read as exact nanosecond longs.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else every available core. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
