package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The traced half of a traced run: spans, a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener`, and the
  * per-layer metrics made from them and from [[Probe]].
  */
final class Traced {
  val tracer = new Tracer(false)
  val engine = new EngineListener
  val plans = new PlanListener
  val progress = new ProgressListener

  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    spark.streams.addListener(progress)
    tracer.enabled = true
  }

  def stop(spark: SparkSession): Unit = {
    engine.await()
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(progress)
    tracer.enabled = false
  }
}

object Layers {
  private val readKinds = Set("full", "subset", "filter", "subset_filter", "count", "merge_schema")
  /** Probe sink writes: (label, the writer it exercises, output, options). */
  private val sinkWrites = Seq(
    ("dta", "dta", "out.dta", Map.empty[String, String]),
    ("sav", "sav", "out.sav", Map("compression" -> "bytecode")),
    ("zsav", "zsav", "out.zsav", Map.empty[String, String]),
    ("sas_rle", "sas", "out.sas7bdat", Map("compression" -> "rle")))

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** Per-layer metrics of a traced run.
    *
    * @param rec       the run's recorder; the probes' operations are checked through it
    * @param ops       operations of the traced measured phase
    * @param wallS     wall seconds of the traced phase
    * @param overhead  traced over untraced median round time, minus one
    * @param openLoop  the workload's open-loop summary (empty if it has none)
    */
  def compute(rec: Recorder, t: Traced, ops: Seq[OpRecord], wallS: Double,
      overhead: Double, openLoop: Map[String, Any], probeDir: File, seed: Long): Map[String, (Double, String)] = {
    val spark = rec.spark
    val e = t.engine
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    val plansMs = t.plans.snapshot
    val progress = t.progress.snapshot
    e.synchronized {
      out("spark.jobs") = (e.jobs.toDouble, "count")
      out("spark.stages") = (e.stages.toDouble, "count")
      out("spark.tasks") = (e.tasks.toDouble, "count")
      out("spark.task_retries") = (e.taskRetries.toDouble, "count")
      out("spark.task_s") = (e.taskNs / 1e9, "s")
      out("spark.task_max_s") = (e.taskMaxNs / 1e9, "s")
      out("spark.sched_wait_s") = (e.schedWaitMs / 1e3, "s")
      out("spark.gc_s") = (e.gcMs / 1e3, "s")
      out("spark.busy_frac") = (e.taskNs / 1e9 / (wallS * Session.Cores), "ratio")
      out("spark.plan_s") = (plansMs.sum / 1e3, "s")
      out("spark.shuffle_write_mb") = (e.shuffleWrite / 1e6, "MB")
      out("spark.shuffle_read_mb") = (e.shuffleRead / 1e6, "MB")
      out("spark.spill_mb") = (e.spill / 1e6, "MB")
    }
    out("trace.overhead_frac") = (overhead, "ratio")

    val reads = ops.filter(o => readKinds(o.kind)).flatMap(o => e.op(o.jobTag).map(o -> _))
    out("source.plan_s") = (med(plansMs) / 1e3, "s")
    out("source.partitions") = (med(reads.map(_._2.firstStageTasks.toDouble)), "count")
    out("source.first_partition_s") = (med(reads.collect {
      case (o, j) if j.firstTaskEndMs != Long.MaxValue => (j.firstTaskEndMs - o.startMs) / 1e3
    }), "s")

    // layers the workload does not drive are exercised on probe inputs
    val probe = new Probe(spark, probeDir, seed, t.tracer)
    t.start(spark)
    val direct = probe.layers()
    out ++= direct.toSeq.sortBy(_._1)
    val rawRate = direct.collect { case (k, (v, _)) if k.endsWith(".mb_s") && k.startsWith("decode.") =>
      k.stripPrefix("decode.").stripSuffix(".mb_s") -> v * 1e6
    }
    val decodedOps = ops.filter(o => o.decoded.nonEmpty && o.decoded.keys.forall(rawRate.contains))
    out("source.dsv2_over_raw") = (
      decodedOps.map(_.secs).sum * Session.Cores /
        decodedOps.map(_.decoded.map { case (f, b) => b / rawRate(f) }.sum).sum, "ratio")

    val writeOps = {
      val first = rec.ops.size
      val frame = Writers.frame(spark, Tables.survey(labels = false), Fmt.Plain, seed, 9200, 40000L).cache()
      frame.count()
      val sinkDir = new File(probeDir, "sink")
      sinkWrites.foreach { case (label, _, name, o) =>
        val path = new File(sinkDir, name).getPath
        rec.op("write", label, Files.size(new File(path)), rows = 40000L) {
          frame.write.format("readstat").options(o).mode("overwrite").save(path); Nil
        }
      }
      frame.unpersist()
      rec.ops.drop(first).toSeq
    }
    val intake = if (openLoop.nonEmpty) (openLoop, progress) else {
      val before = t.progress.snapshot.size
      val table = Tables.intake
      val pending = Writers.writeMany(spark, new File(probeDir, "pending"), table, seed, 0 until 41,
        Seq(Fmt.Dta, Fmt.Sav, Fmt.Zsav, Fmt.Sas), SmallFilesWorkload.rowsOf)
      val m = Intake.run(rec, table.schema, new File(probeDir, "intake"),
        pending.map(p => (p._1, p._2, p._3)), 20.0, 2.0)
      (m, t.progress.snapshot.drop(before))
    }
    out ++= Pipeline.layers(rec, e, new File(probeDir, "pipeline"), seed)
    t.stop(spark)

    sinkWrites.foreach { case (label, fmt, _, _) =>
      val ws = writeOps.filter(o => o.kind == "write" && o.target == label)
      val jobs = ws.flatMap(o => e.op(o.jobTag).map(o -> _))
      out(s"write.$fmt.task_s") = (med(jobs.map(_._2.taskNs / 1e9)), "s")
      out(s"write.$fmt.commit_s") = (med(jobs.collect {
        case (o, j) if j.lastTaskEndMs > 0 => (o.startMs + o.secs * 1e3 - j.lastTaskEndMs) / 1e3
      }), "s")
      out(s"write.$fmt.bytes_per_row") = (med(ws.filter(_.rows > 0).map(o => o.bytes.toDouble / o.rows)), "B")
    }

    val (loop, prog) = intake
    def num(k: String): Double = loop.get(k).map(_.toString.toDouble).getOrElse(Double.NaN)
    val withData = prog.filter(_._1 > 0)
    out("stream.batches") = (num("batches"), "count")
    out("stream.files_per_batch") = (num("files_per_batch"), "count")
    out("stream.empty_trigger_frac") = (
      if (prog.isEmpty) Double.NaN else (prog.size - withData.size).toDouble / prog.size, "ratio")
    Seq("latest_offset" -> "latestOffset", "planning" -> "queryPlanning", "add_batch" -> "addBatch",
      "commit" -> "commitOffsets", "trigger" -> "triggerExecution").foreach { case (name, key) =>
      out(s"stream.${name}_ms_p50") = (med(withData.flatMap(_._2.get(key)).map(_.toDouble)), "ms")
    }
    out("stream.generator_late_ms_max") = (num("generator_late_ms_max"), "ms")
    out("stream.intake_lag_p50_s") = (num("intake_lag_p50_s"), "s")
    out("stream.intake_lag_p95_s") = (num("intake_lag_p95_s"), "s")
    out.toMap
  }
}
