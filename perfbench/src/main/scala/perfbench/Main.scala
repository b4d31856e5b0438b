package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR`.
  *
  * Set-up (a session and freshly generated inputs) runs three times (once
  * when traced) and reports its median; two checked, untimed warm-up
  * rounds follow. The measured phase runs as many whole rounds as take
  * `--seconds` at the workload's nominal round time (an open-loop phase
  * takes its share of `--seconds` at the end), checking every result. The last stdout line is
  * the result object; the full record and, when traced, the spans go under
  * `--work`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")))
  }

  val SetupRepeats = 3
  val WarmRounds = 2

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] failed: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  /** Seconds since this JVM started. */
  private def uptime: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def run(a: Args): Int = {
    val phases = mutable.LinkedHashMap[String, Double]("jvm_start" -> uptime)
    val runDir = new File(a.work, s"${a.workload}-run")
    Files.delete(runDir)
    runDir.mkdirs()
    val calPre = Calib.probe(Session.Cores)
    phases("calibrated") = uptime

    // set-up, repeated: each repeat is a fresh session and freshly
    // generated inputs
    val traced = new Traced
    val rec = new Recorder(null, traced.tracer)
    var spark: SparkSession = null
    var w: Workload = null
    // a traced run reports no set-up time, so it sets up once
    val setupParts = (1 to (if (a.trace) 1 else SetupRepeats)).map { k =>
      if (spark != null) spark.stop()
      Files.delete(new File(runDir, s"in${k - 1}"))
      val t0 = System.nanoTime()
      spark = Session.create(runDir)
      rec.spark = spark
      w = Workload(a.workload)
      val t1 = System.nanoTime()
      w.setup(spark, new File(runDir, s"in$k"), a.seed)
      Seq(t1 - t0, System.nanoTime() - t1).map(_ / 1e9)
    }
    val setupSecs = setupParts.map(_.sum)
    phases("set_up") = uptime
    // checked warm-up rounds, untimed: JIT compilation and codegen settle
    val warmRounds = measure(w, rec, WarmRounds)
    rec.ops.clear()
    phases("warmed_up") = uptime

    // the closed loop runs a fixed number of rounds: its share of
    // `--seconds` at the workload's nominal round time, so a faster or
    // slower machine measures the same rounds (round times still fall as
    // the JIT warms, so a varying count would move the medians)
    val cpuAtStart = Calib.cpuTicks()
    val nRounds = math.max(2, math.round(a.seconds * (1 - w.openLoopShare) / w.nominalRoundSecs).toInt)
    val openSecs = a.seconds * w.openLoopShare
    val (rounds, perLayer, openLoop) =
      if (!a.trace) (measure(w, rec, nRounds), Map.empty[String, (Double, String)], w.openLoop(rec, openSecs))
      else {
        // as many untraced as traced rounds, alternating P T T P P T ...,
        // so rounds still getting faster as the JIT warms favour neither
        // side; the difference of the medians is the tracing overhead, and
        // the record's latencies keep the untraced rounds
        val half = math.max(2, (nRounds + 1) / 2)
        val plain = mutable.ArrayBuffer[Double]()
        val tr = mutable.ArrayBuffer[Double]()
        val tracedOps = mutable.ArrayBuffer[OpRecord]()
        def tracedPhase[A](body: => A): A = {
          val first = rec.ops.size
          traced.start(spark)
          try body finally {
            traced.stop(spark)
            tracedOps ++= rec.ops.drop(first)
            rec.ops.remove(first, rec.ops.size - first)
          }
        }
        (0 until 2 * half).foreach { i =>
          if ((i + i / 2) % 2 == 0) plain ++= measure(w, rec, 1)
          else tr ++= tracedPhase(measure(w, rec, 1))
        }
        val t0 = System.nanoTime()
        val loop = tracedPhase(w.openLoop(rec, openSecs))
        val wallS = tr.sum + (System.nanoTime() - t0) / 1e9
        val first = rec.ops.size
        val layers = Layers.compute(rec, traced, tracedOps.toSeq, wallS,
          Stats.median(tr.toSeq) / Stats.median(plain.toSeq) - 1, loop, new File(runDir, "probe"), a.seed)
        rec.ops.remove(first, rec.ops.size - first)
        (plain.toSeq, layers, loop)
      }
    phases("measured") = uptime
    val stealFrac = Calib.stealFrac(cpuAtStart, Calib.cpuTicks())
    val calPost = Calib.probe(Session.Cores)

    val ops = rec.ops.toSeq
    val lat = ops.map(_.secs)
    val tail = Stats.tail(lat)
    val thr = ops.filter(_.bytes > 0)
    val fb = ops.filter(_.kind == "first_batch").map(_.secs)
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupSecs), "s"),
      "wall_s" -> (Stats.median(rounds), "s"),
      "op_p50_s" -> (Stats.median(lat), "s"),
      "op_tail_s" -> (tail.value, "s"),
      "mb_per_s" -> (thr.map(_.bytes).sum / 1e6 / thr.map(_.secs).sum, "MB/s"),
      "first_batch_s" -> (Stats.median(fb), "s"),
      "bytes_per_row" -> (w.bytesPerRow, "B"),
      "peak_rss_mb" -> (Files.peakRssMb(), "MB"))

    val correct = rec.mismatches.isEmpty
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> Session.Cores, "correct" -> correct,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "fail_frac" -> rec.failed.toDouble / math.max(1L, rec.attempted),
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "op_tail" -> Map("percentile" -> tail.label, "n" -> tail.n),
      "setup_s_each" -> setupSecs,
      "setup_session_inputs_s" -> setupParts,
      "warm_round_s_each" -> warmRounds,
      "round_s_each" -> rounds,
      "ops_by_kind" -> ops.groupBy(_.kind).map { case (k, xs) =>
        val s = xs.map(_.secs)
        k -> Map("n" -> s.size, "p50_s" -> Stats.median(s), "max_s" -> s.max)
      },
      "ops_by_target" -> ops.groupBy(o => s"${o.kind} ${o.target}").map { case (k, xs) =>
        k -> Stats.median(xs.map(_.secs))
      },
      "open_loop" -> openLoop,
      "phase_end_uptime_s" -> phases,
      "calibration" -> Map("pre_seq_s" -> calPre._1, "pre_par_s" -> calPre._2,
        "post_seq_s" -> calPost._1, "post_par_s" -> calPost._2, "measured_steal_frac" -> stealFrac),
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "mismatches" -> rec.mismatches.take(50), "errors" -> rec.errors.take(50))
    if (a.trace) {
      val spans = traced.tracer.spans.toSeq
      record("span_self_s") = Spans.summary(spans).map { case (k, (n, tot, self)) =>
        k -> Map("n" -> n, "total_s" -> tot, "self_s" -> self)
      }
      writeSpans(spans, new File(a.work, s"${a.workload}-spans.jsonl"))
    }
    val out = new PrintWriter(new File(a.work, s"${a.workload}-record.json"))
    try out.println(Json.render(record)) finally out.close()

    spark.stop()
    Files.delete(runDir)
    System.err.println(f"[perfbench] done at ${uptime}%.1f s uptime")

    val metrics = if (a.trace) perLayer else endToEnd.toMap
    println(Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }.to(mutable.LinkedHashMap))))
    if (correct) 0 else 1
  }

  /** `n` rounds; each round's seconds. */
  private def measure(w: Workload, rec: Recorder, n: Int): Seq[Double] = (1 to n).map { _ =>
    val t0 = System.nanoTime()
    w.round(rec)
    (System.nanoTime() - t0) / 1e9
  }

  private def writeSpans(spans: Seq[Span], f: File): Unit = {
    val out = new PrintWriter(f)
    try spans.foreach { s =>
      out.println(Json.render(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally out.close()
  }
}
