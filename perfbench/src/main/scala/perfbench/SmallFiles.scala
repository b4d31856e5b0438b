package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.sources.readstat.ReadstatMetadata

/** Many small mixed-format files: per-file metadata, driver planning and
  * task scheduling dominate, decoders do little. Rounds run `describe`,
  * a directory count, a full aggregate, a `mergeSchema` load over files
  * with an extra column and a first batch; an open-loop phase then lands
  * pre-written files in a watched directory at a fixed rate while a
  * `readStream.format("readstat")` query consumes them.
  */
final class SmallFilesWorkload extends Workload {
  val name = "small_files"
  val nominalRoundSecs = 2.0
  private val t = Tables.intake
  private val extraT = t.withExtra(Coded("consent", 2, 0.0))
  private val formats = Seq(Fmt.Dta, Fmt.Sav, Fmt.Zsav, Fmt.Sas)
  private val nBase = 80
  private val nExtra = 8
  private val nPending = 100
  /** Landing rate of the open-loop phase, files per second. */
  private val rate = 25.0
  private var dir: File = _
  private var base: File = _
  private var extra: File = _
  private var baseExp: Expect = _
  private var extraExp: Expect = _
  private var merged: Expect = _
  private var baseFiles: IndexedSeq[(String, Long)] = IndexedSeq.empty
  private var baseBytesByFmt: Map[String, Long] = Map.empty
  private var pending: IndexedSeq[(Int, String, Long)] = IndexedSeq.empty
  private var describeAt = 0


  def setup(spark: SparkSession, dir: File, seed: Long): Unit = {
    this.dir = dir
    base = new File(dir, "base")
    extra = new File(dir, "extra")
    def writeAll(d: File, tb: Table, nos: Seq[Int]) =
      Writers.writeMany(spark, d, tb, seed, nos, formats, SmallFilesWorkload.rowsOf)
    val b = writeAll(base, t, 0 until nBase)
    val e = writeAll(extra, extraT, nBase until nBase + nExtra)
    val p = writeAll(new File(dir, "pending"), t, (nBase + nExtra) until (nBase + nExtra + nPending))
    baseExp = b.map(_._4).reduce(_ merge _)
    extraExp = e.map(_._4).reduce(_ merge _)
    // base files lack `consent`: in the merged load it is null on their rows
    merged = new Expect(extraT)
    b.foreach { case (no, _, rows, _) => Gen.rows(t, seed, no, rows).foreach(v => merged.add(v :+ null)) }
    merged.merge(extraExp)
    baseFiles = b.map(x => (x._2, x._3)).toIndexedSeq
    baseBytesByFmt = b.groupBy(x => formats(x._1 % formats.size).name)
      .map { case (f, xs) => f -> xs.map(x => new File(x._2).length()).sum }
    pending = p.map(x => (x._1, x._2, x._3)).toIndexedSeq
  }

  private def baseBytes: Long = baseBytesByFmt.values.sum

  def round(rec: Recorder): Unit = {
    rec.op("describe", "12 files") {
      (0 until 12).flatMap { k =>
        val (p, rows) = baseFiles((describeAt + k) % baseFiles.size)
        val meta = rec.tracer.span("metadata.describe")(ReadstatMetadata.describe(rec.spark, p).collect())
        val got = meta.map(_.getAs[Long]("row_count")).distinct.toSeq
        if (meta.length == t.cols.length && got == Seq(rows)) Nil
        else Seq(s"describe $p: ${meta.length} columns, row_count $got != $rows")
      }
    }
    describeAt += 12
    rec.op("count", "base") {
      val d = Workload.read(rec, Seq(base.getPath))
      val n = rec.tracer.span("source.execute")(d.count())
      if (n == baseExp.all.rows) Nil else Seq(s"count $n != ${baseExp.all.rows}")
    }
    rec.op("full", "base", baseBytes, baseBytesByFmt) {
      Check.all(rec, Workload.read(rec, Seq(base.getPath)), t.names, baseExp.all, t)
    }
    rec.op("merge_schema", "base+extra", baseBytes + Files.size(extra)) {
      val df = Workload.read(rec, Seq(base.getPath, extra.getPath), Map("mergeSchema" -> "true"))
      Check.all(rec, df, extraT.names, merged.all, extraT)
    }
    Workload.firstBatch(rec, "base", base.getPath, baseExp.all.rows)
  }

  override def openLoopShare: Double = 0.3

  override def openLoop(rec: Recorder, seconds: Double): Map[String, Any] =
    Intake.run(rec, t.schema, dir, pending, rate, seconds)

  def bytesPerRow: Double = (baseBytes + Files.size(extra)).toDouble / (baseExp.all.rows + extraExp.all.rows)
}

object SmallFilesWorkload {
  /** 50 to 449 rows by file number, the same for every seed, so the input
    * volume (and its bytes per row) does not change with the seed.
    */
  def rowsOf(file: Int): Long = 50L + new SplittableRandom(Gen.mix(7L, 7L, file.toLong)).nextInt(400)
}
