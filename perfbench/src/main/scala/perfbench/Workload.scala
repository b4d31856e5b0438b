package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.readstat.ReadstatStream

/** A benchmark workload: inputs generated from the seed in `setup`, then a
  * fixed round of checked operations, repeated by a single closed-loop
  * client for the measured time.
  */
trait Workload {
  def name: String

  /** Generates the inputs under `dir` (fresh and empty) and records the
    * expectations the operations check against.
    */
  def setup(spark: SparkSession, dir: File, seed: Long): Unit

  /** One round of operations, each timed and checked through `rec`. */
  def round(rec: Recorder): Unit

  /** Typical seconds of one warm round on 4 cores; sets how many rounds
    * `--seconds` buys.
    */
  def nominalRoundSecs: Double

  /** An open-loop phase after the rounds; `seconds` is its share of the run. */
  def openLoop(rec: Recorder, seconds: Double): Map[String, Any] = Map.empty

  /** Share of the measured time the open-loop phase takes. */
  def openLoopShare: Double = 0.0

  /** Container bytes per generated row of the workload's data. */
  def bytesPerRow: Double
}

object Workload {
  val names: Seq[String] = Seq("scan", "small_files")

  def apply(name: String): Workload = name match {
    case "scan" => new ScanWorkload
    case "small_files" => new SmallFilesWorkload
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** A `readstat` load (schema inference: each file's metadata is parsed). */
  def read(rec: Recorder, paths: Seq[String], opts: Map[String, String] = Map.empty): DataFrame =
    rec.tracer.span("source.load")(rec.spark.read.format("readstat").options(opts).load(paths: _*))

  /** Times the first batch of [[ReadstatStream.batches]] and checks its size. */
  def firstBatch(rec: Recorder, target: String, path: String, rows: Long): Unit =
    rec.op("first_batch", target) {
      val it = rec.tracer.span("stream.batches")(ReadstatStream.batches(rec.spark, path, batchSize = 4096))
      val n = rec.tracer.span("stream.first_batch")(it.next().size)
      val want = math.min(4096L, rows)
      if (n == want) Nil else Seq(s"first batch $n rows != $want")
    }
}

/** A set of generated containers read as one table. */
final case class Dataset(label: String, fmt: Fmt, path: String, exp: Expect, bytes: Long)

/** Large-file reads: single uncompressed dta and sas7bdat files, 4-file
  * directories of SAS-RLE, SAS-RDC, bytecode sav and zsav, and one wide
  * file. Each set is read in full, counted and streamed to a first batch;
  * the uncompressed sets are also projected, filtered and both.
  */
final class ScanWorkload extends Workload {
  val name = "scan"
  val nominalRoundSecs = 4.0
  private val survey = Tables.survey(labels = true)
  private val wideTable = Tables.wide(320)
  // rows per single large file, per file of a 4-file directory, and of the
  // wide file: about 110 MB in all
  private val bigRows = 250000L
  private val dirRows = 40000L
  private val wideRows = 5000L
  /** The readstat `maxPartitionBytes` of every scan read. The inputs are
    * about an eighth of a 1 GB scan, so the partition cap is scaled down
    * from the 128 MiB default too: each large file plans 4–7 partitions, as
    * a file of 500 MB or more does at the default.
    */
  val readOpts = Map("maxPartitionBytes" -> (6L << 20).toString)
  private var sets: Seq[Dataset] = Nil

  def setup(spark: SparkSession, dir: File, seed: Long): Unit = {
    val layout: Seq[(String, Fmt, Table, Int, Long)] = Seq(
      ("dta", Fmt.Dta, survey, 1, bigRows),
      ("sas", Fmt.Sas, survey, 1, bigRows),
      ("sas_rle", Fmt.SasRle, survey, 4, dirRows),
      ("sas_rdc", Fmt.SasRdc, survey, 4, dirRows),
      ("sav", Fmt.Sav, survey, 4, dirRows),
      ("zsav", Fmt.Zsav, survey, 4, dirRows),
      ("wide", Fmt.Dta, wideTable, 1, wideRows))
    // (set, file number, path); file numbers seed each file's rows
    val files = layout.zipWithIndex.flatMap { case ((label, fmt, _, n, _), k) =>
      val d = new File(dir, label)
      (0 until n).map(i => (k, 10 * k + i, new File(d, f"part-$i%05d.${fmt.ext}").getPath))
    }
    val exps = new java.util.concurrent.ConcurrentHashMap[Int, Expect]()
    // SAS-RLE/RDC directories go through the `readstat` sink, one container
    // per partition; the other files through the writers, on all cores
    val viaSink = Set[Fmt](Fmt.SasRle, Fmt.SasRdc)
    val (sinkFiles, direct) = files.partition(f => viaSink(layout(f._1)._2))
    Files.parallel(Session.Cores)(direct.map { case (k, no, p) => () =>
      val (_, fmt, t, _, rows) = layout(k)
      new File(p).getParentFile.mkdirs()
      exps.put(no, Writers.write(spark, t, fmt, seed, no, rows, p))
    })
    sinkFiles.groupBy(_._1).foreach { case (k, fs) =>
      val (label, fmt, t, _, rows) = layout(k)
      Writers.writeDir(spark, t, fmt, seed, fs.map(_._2), rows, new File(dir, label))
      fs.foreach { case (_, no, _) => exps.put(no, Gen.expect(t, seed, no, rows)) }
    }
    sets = layout.zipWithIndex.map { case ((label, fmt, t, n, rows), k) =>
      val mine = files.filter(_._1 == k)
      val exp = mine.map(f => exps.get(f._2)).reduce(_ merge _)
      Writers.assertCompressed(fmt, mine.map(_._3), t, rows)
      val d = new File(dir, label)
      Dataset(label, fmt, if (n == 1) mine.head._3 else d.getPath, exp, Files.size(d))
    }
  }

  private val kinds = Seq("full", "count", "first_batch", "subset", "filter", "subset_filter")
  /** Sets every kind runs on: the uncompressed fixed-width layouts, where
    * projection and filter pushdown can skip bytes. The compressed
    * directories run `full` and `count`.
    */
  private val pushdownSets = Set("dta", "sas", "wide")

  private def run(rec: Recorder, s: Dataset, kind: String): Unit = {
    val t = s.exp.table
    def df = Workload.read(rec, Seq(s.path), readOpts)
    val pred = col(t.predCol) >= 4
    kind match {
      case "full" => rec.op(kind, s.label, s.bytes, Map(s.fmt.name -> s.bytes)) {
        Check.all(rec, df, t.names, s.exp.all, t)
      }
      case "subset" => rec.op(kind, s.label) {
        Check.all(rec, df.select(t.subset.map(col): _*), t.subset, s.exp.all, t)
      }
      case "filter" => rec.op(kind, s.label) {
        Check.all(rec, df.where(pred), t.names, s.exp.pred, t)
      }
      case "subset_filter" => rec.op(kind, s.label) {
        Check.all(rec, df.select(t.subset.map(col): _*).where(pred), t.subset, s.exp.pred, t)
      }
      case "count" => rec.op(kind, s.label) {
        val d = df
        val n = rec.tracer.span("source.execute")(d.count())
        if (n == s.exp.all.rows) Nil else Seq(s"count $n != ${s.exp.all.rows}")
      }
      case "first_batch" => Workload.firstBatch(rec, s.label, s.path, s.exp.all.rows)
    }
  }

  def round(rec: Recorder): Unit =
    for (s <- sets; k <- kinds if k == "full" || k == "count" || pushdownSets(s.label)) run(rec, s, k)

  def bytesPerRow: Double = sets.map(_.bytes).sum.toDouble / sets.map(_.exp.all.rows).sum
}
