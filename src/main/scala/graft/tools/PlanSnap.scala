package graft.tools

/** Snapshot `explain("formatted")` for named queries into
  * `<repo>/plans/<tag>/<query>_<suffix>.txt` — the per-round optimization
  * evidence files (deliverable: plans/r17/<query>_before.txt /
  * _after.txt). Usage:
  *
  *   sbt "runMain graft.tools.PlanSnap r17 before q73_dedup_disposition ..."
  *
  * Runs at sf0.001 on local[4] like PlanDump — plan SHAPE (exchanges,
  * join strategies, pushdown) is scale-invariant for these queries; the
  * bench carries the timing evidence. NOTE: building a query frame runs
  * the operators' internal `graft.util.Cached` fills, so the
  * "snapshot" executes each query eagerly at sf0.001 — cheap, but not
  * free. Output is anchored at the repo root (the nearest ancestor of
  * the cwd containing build.sbt — r16 ADVICE: a cwd-relative path
  * scattered evidence files when run from elsewhere).
  */
object PlanSnap {
  /** Nearest ancestor (cwd included) containing build.sbt, else the cwd. */
  private def repoRoot: java.nio.file.Path = {
    var p = java.nio.file.Paths.get("").toAbsolutePath
    var cur = p
    while (cur != null) {
      if (java.nio.file.Files.exists(cur.resolve("build.sbt"))) return cur
      cur = cur.getParent
    }
    p
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <tag> <suffix> <query...>")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    // 4 cores pin the partition counts the committed plans print
    val spark = graft.GraftSession(cpus = 4)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val dir = repoRoot.resolve(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    for (q <- names) {
      val df = graft.SparkEntry.queries(q)(spark, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(dir.resolve(s"${q}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      df.unpersist(blocking = false)
      spark.catalog.clearCache()
      println(s"[plansnap] wrote ${dir.resolve(s"${q}_$suffix.txt")}")
    }
    spark.stop()
  }
}
