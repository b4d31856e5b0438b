package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.readstat.{ReadstatColumnarReader, ReadstatFormats, ReadstatInputPartition,
  ReadstatMetadata, ReadstatOptions}
import graft.sources.readstat.sas.SasFixtureWriter
import graft.sources.readstat.spss.SavWriter
import graft.sources.readstat.stata.DtaWriter

/** Direct calls into single layers, outside Spark's scan and sink, on small
  * seeded probe files: decoders through `FormatModule.columnar`, metadata
  * through `schema`/`fileContext`/`partitionRanges` and
  * `ReadstatMetadata.describe`, encoders through the writers' `writeRows*`.
  * A traced run makes these calls after its measured phase.
  */
final class Probe(spark: SparkSession, dir: File, seed: Long, tracer: Tracer) {
  private val survey = Tables.survey(labels = true)
  private val rows = 40000L
  private val wideRows = 4000L
  private val opts = ReadstatOptions.from(new java.util.HashMap[String, String]())
  /** Minimum time each rate is measured over. */
  private val minSecs = 0.1

  /** (label, path, table) of the probe containers, written once. */
  lazy val files: Seq[(String, String, Table)] = {
    dir.mkdirs()
    val layout = Seq(("dta", Fmt.Dta, survey, rows), ("sas", Fmt.Sas, survey, rows),
      ("sas_rle", Fmt.SasRle, survey, rows), ("sas_rdc", Fmt.SasRdc, survey, rows),
      ("sav", Fmt.Sav, survey, rows), ("zsav", Fmt.Zsav, survey, rows),
      ("wide", Fmt.Dta, Tables.wide(320), wideRows))
    layout.zipWithIndex.map { case ((label, fmt, t, n), i) =>
      val p = new File(dir, s"$label.${fmt.ext}").getPath
      Writers.write(spark, t, fmt, seed, 9000 + i, n, p)
      (label, p, t)
    }
  }

  /** Repeats `f` (after one untimed call) until [[minSecs]] pass; seconds per call. */
  private def timed(f: => Unit): Double = {
    f
    var n = 0
    val t0 = System.nanoTime()
    while (n < 2 || System.nanoTime() - t0 < minSecs * 1e9) { f; n += 1 }
    (System.nanoTime() - t0) / 1e9 / n
  }

  /** Decodes every row of `path` on this thread; returns rows decoded. */
  def decode(path: String, columns: Option[Seq[String]]): Long = {
    val m = ReadstatFormats.forPath(path, opts)
    val full = m.schema(path, opts)
    val req = columns.map(cs => StructType(cs.map(c => full(c)))).getOrElse(full)
    val ctx = m.fileContext(path, opts)
    val fmt = ReadstatOptions.detectFormat(path, None)
    m.partitionRanges(path, opts).map { case (start, count) =>
      val part = ReadstatInputPartition(path, fmt, start, count)
      m.columnar(part, ctx, req, opts) match {
        case Some((cursor, appenders)) =>
          val r = new ReadstatColumnarReader(cursor, appenders, req)
          var n = 0L
          try while (r.next()) n += r.get().numRows() finally r.close()
          n
        case None =>
          val r = m.reader(part, ctx, req, opts)
          var n = 0L
          try while (r.next()) n += 1 finally r.close()
          n
      }
    }.sum
  }

  /** decode.<fmt>.mb_s / .rows, meta.*_ms, encode.<fmt>.mb_s. */
  def layers(): Map[String, (Double, String)] = {
    val out = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    files.foreach { case (label, p, t) =>
      val cols = if (label == "wide") Some(t.subset) else None
      val name = if (label == "wide") "wide_subset" else label
      var n = 0L
      val secs = tracer.span(s"decoder.$name")(timed { n = decode(p, cols) })
      out(s"decode.$name.mb_s") = (new File(p).length() / 1e6 / secs, "MB/s")
      out(s"decode.$name.rows") = (n.toDouble, "count")
    }
    val metaFiles = files.filter(_._1 != "wide").map(_._2)
    def metaMs(label: String)(f: String => Unit): Unit = {
      val each = metaFiles.map(p => tracer.span(s"meta.$label")(timed(f(p))) * 1e3)
      out(s"meta.${label}_ms") = (Stats.median(each), "ms")
    }
    metaMs("schema")(p => ReadstatFormats.forPath(p, opts).schema(p, opts))
    metaMs("context")(p => ReadstatFormats.forPath(p, opts).fileContext(p, opts))
    metaMs("ranges")(p => ReadstatFormats.forPath(p, opts).partitionRanges(p, opts))
    metaMs("describe")(p => ReadstatMetadata.describe(spark, p).collect())

    val t = survey
    Seq(Fmt.Dta, Fmt.Sav, Fmt.Zsav, Fmt.Sas).foreach { fmt =>
      val rowsIn: Array[Row] = Gen.rows(t, seed, 9100, rows).map(v => Gen.encode(v, fmt, t)).toArray
      val p = new File(dir, s"encode.${fmt.ext}").getPath
      val secs = tracer.span(s"encoder.${fmt.name}")(timed(fmt match {
        case Fmt.Dta => DtaWriter.writeRows(t.schemaFor(fmt), rowsIn.iterator, p, t.widths, valueLabels = t.dtaLabels)
        case Fmt.Sav => SavWriter.writeRows(t.schema, rowsIn.iterator, p, t.widths, compress = false,
          valueLabels = t.savLabels, missingValues = t.savMissing)
        case Fmt.Zsav => SavWriter.writeRows(t.schema, rowsIn.iterator, p, t.widths, compress = false,
          valueLabels = t.savLabels, missingValues = t.savMissing, zsav = true)
        case _ => SasFixtureWriter.writeRowsStreaming(t.schema, rowsIn.iterator, p, t.widths, rows)
      }))
      out(s"encode.${fmt.name}.mb_s") = (new File(p).length() / 1e6 / secs, "MB/s")
    }
    out.toMap
  }
}
