package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine configuration every workload runs under: the settings of the
  * library's own bench and verify sessions, at a fixed core count.
  */
object Session {
  val Cores = 4

  def create(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One timed benchmark operation. `bytes` is the container volume the op
  * moved (counted in throughput) and `rows` the rows it wrote; `decoded`
  * the per-format bytes it decoded in full; `jobTag` links it to its Spark
  * jobs.
  */
final case class OpRecord(kind: String, target: String, secs: Double, startMs: Long,
    bytes: Long, rows: Long, decoded: Map[String, Long], jobTag: String)

/** Runs and times operations for the single closed-loop client. Only
  * non-fatal exceptions count as failed operations; a result that differs
  * from its expectation is a mismatch and makes the whole run incorrect.
  */
final class Recorder(var spark: SparkSession, val tracer: Tracer) {
  val ops = new ArrayBuffer[OpRecord]()
  val errors = new ArrayBuffer[String]()
  val mismatches = new ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  private var seq = 0

  /** Runs `body`, which returns the mismatches it found (empty when
    * correct). `bytes` and `decoded` are read after it ran.
    */
  def op(kind: String, target: String, bytes: => Long = 0L, decoded: => Map[String, Long] = Map.empty,
      rows: Long = 0L)(body: => Seq[String]): Unit = {
    seq += 1
    val tag = s"op$seq"
    tracer.newOp()
    attempted += 1
    spark.sparkContext.setLocalProperty("perfbench.op", tag)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val bad = tracer.span(s"op.$kind")(body)
      val secs = (System.nanoTime() - t0) / 1e9
      ops += OpRecord(kind, target, secs, startMs, bytes, rows, decoded, tag)
      mismatches ++= bad.map(m => s"$kind $target: $m")
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$kind $target: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally spark.sparkContext.setLocalProperty("perfbench.op", null)
  }
}

/** Aggregates compared against the generator's closed-form expectations:
  * the row count, then a non-null count and a sum per column (string
  * lengths, epoch days, label lengths for labeled codes). Past
  * [[Check.PerColumnLimit]] columns the counts and sums are taken across
  * the row instead (one sum of every column's values, one count of every
  * non-null cell), which still decodes every cell with two aggregates.
  */
object Check {
  val PerColumnLimit = 40

  private def value(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case StringType => length(col(c)).cast(DoubleType)
    case DateType => expr(s"unix_date(`$c`)").cast(DoubleType)
    case _ => col(c).cast(DoubleType)
  }

  /** `a + b + ...` as a balanced tree, so hundreds of columns stay shallow. */
  private def balanced(xs: Seq[Column]): Column =
    if (xs.size == 1) xs.head
    else { val (l, r) = xs.splitAt(xs.size / 2); balanced(l) + balanced(r) }

  /** Aggregates of `cols` in `df`, with their expected values from `acc`. */
  private def planned(df: DataFrame, cols: Seq[String], acc: Acc, t: Table): Seq[(String, Column, Double)] = {
    def want(c: String): (Double, Double) = {
      val i = t.index(c)
      val labeled = df.schema(c).dataType == StringType && (t.cols(i) match {
        case cd: Coded => cd.labels.nonEmpty
        case _ => false
      })
      (acc.count(i).toDouble, if (labeled) acc.labelLen(i).toDouble else acc.sum(i))
    }
    val rows = ("rows", count(lit(1)).cast(DoubleType), acc.rows.toDouble)
    if (cols.size <= PerColumnLimit) rows +: cols.flatMap { c =>
      val (n, s) = want(c)
      Seq((s"count($c)", count(col(c)).cast(DoubleType), n),
        (s"sum($c)", coalesce(sum(value(df, c)), lit(0.0)), s))
    } else {
      val ws = cols.map(want)
      Seq(rows,
        ("count(cells)", sum(balanced(cols.map(c => col(c).isNotNull.cast(DoubleType)))), ws.map(_._1).sum),
        ("sum(cells)", sum(balanced(cols.map(c => coalesce(value(df, c), lit(0.0))))), ws.map(_._2).sum))
    }
  }

  /** Mismatches between `df`'s aggregates over `cols` and `acc` (empty when equal). */
  def all(rec: Recorder, df: DataFrame, cols: Seq[String], acc: Acc, t: Table): Seq[String] = {
    val p = planned(df, cols, acc, t)
    val r = rec.tracer.span("source.execute")(df.agg(p.head._2, p.tail.map(_._2): _*).collect().head)
    p.zipWithIndex.collect {
      case ((name, _, want), k) if (if (r.isNullAt(k)) 0.0 else r.getDouble(k)) != want =>
        s"$name ${if (r.isNullAt(k)) "null" else r.getDouble(k)} != $want"
    }
  }
}

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Constant-work CPU probes run before and after a measurement, so a run
  * made on a contended machine carries its own evidence.
  */
object Calib {
  private def spin(): Unit = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
  }

  private def best(f: => Unit): Double =
    (1 to 2).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.min

  /** The machine's CPU time counters (the `cpu` line of `/proc/stat`), or
    * empty where there is none.
    */
  def cpuTicks(): Seq[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq finally src.close()
  } catch { case NonFatal(_) => Nil }

  /** Share of the CPU time between two [[cpuTicks]] readings that the
    * hypervisor gave to other machines (steal): a contended host shows
    * here while the spin probes may still read clean.
    */
  def stealFrac(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) Double.NaN
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      d(7).toDouble / math.max(1L, d.take(8).sum)
    }

  /** (one thread, all `threads` at once) seconds. */
  def probe(threads: Int): (Double, Double) = {
    val seq = best(spin())
    val par = best {
      val ts = (1 to threads).map(_ => new Thread(() => spin()))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    (seq, par)
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** Bytes of a file, or of the readstat containers in a directory tree. */
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  /** Runs `fs` on `threads` threads; rethrows the first failure. */
  def parallel(threads: Int)(fs: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = fs.map(f => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = f() }))
      futs.foreach(_.get())
    } finally pool.shutdownNow()
  }

  /** Peak resident set of this JVM in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
