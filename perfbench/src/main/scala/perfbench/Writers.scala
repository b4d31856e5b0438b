package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StringType

import graft.sources.readstat.sas.SasFixtureWriter
import graft.sources.readstat.spss.SavWriter
import graft.sources.readstat.stata.DtaWriter

/** Writes generated tables through the library's own writers. */
object Writers {

  /** A Spark frame of generated rows, encoded for `fmt`; one task per
    * group of generator chunks.
    */
  def frame(spark: SparkSession, t: Table, fmt: Fmt, seed: Long, file: Int, rows: Long,
      parts: Int = Session.Cores): DataFrame = {
    val chunks = ((rows + Gen.Chunk - 1) / Gen.Chunk).toInt
    val rdd = spark.sparkContext.parallelize(0 until chunks, math.max(1, math.min(parts, chunks)))
      .flatMap(c => Gen.chunk(t, seed, file, c, rows).map(v => Gen.encode(v, fmt, t)))
    spark.createDataFrame(rdd, t.schemaFor(fmt))
  }

  /** Writes generated files `files` (`rows` rows each) as a directory of
    * containers through the `readstat` sink, one partition per file:
    * `dir/part-0000i.<ext>` holds file `files(i)`.
    */
  def writeDir(spark: SparkSession, t: Table, fmt: Fmt, seed: Long, files: Seq[Int], rows: Long,
      dir: File): Unit = {
    val rdd = spark.sparkContext.parallelize(files, files.size)
      .flatMap(no => Gen.rows(t, seed, no, rows).map(v => Gen.encode(v, fmt, t)))
    val opts = fmt match {
      case Fmt.SasRle => Map("format" -> "sas7bdat", "compression" -> "rle")
      case Fmt.SasRdc => Map("format" -> "sas7bdat", "compression" -> "rdc")
      case other => Map("format" -> other.ext)
    }
    spark.createDataFrame(rdd, t.schemaFor(fmt)).write.format("readstat").options(opts)
      .mode("overwrite").save(dir.getPath)
  }

  /** Writes generated file `file` of `rows` rows to `path`; returns its expectations. */
  def write(spark: SparkSession, t: Table, fmt: Fmt, seed: Long, file: Int, rows: Long,
      path: String): Expect = {
    val exp = new Expect(t)
    def it = Gen.tracked(t, seed, file, rows, fmt, exp)
    fmt match {
      case Fmt.Dta => DtaWriter.writeRows(t.schemaFor(fmt), it, path, t.widths, valueLabels = t.dtaLabels)
      case Fmt.Sas => SasFixtureWriter.writeRowsStreaming(t.schema, it, path, t.widths, rows)
      case Fmt.Sav =>
        SavWriter.writeRows(t.schema, it, path, t.widths, compress = true,
          valueLabels = t.savLabels, missingValues = t.savMissing)
      case Fmt.Zsav =>
        SavWriter.writeRows(t.schema, it, path, t.widths, compress = false,
          valueLabels = t.savLabels, missingValues = t.savMissing, zsav = true)
      case Fmt.SasRle | Fmt.SasRdc =>
        SasFixtureWriter.write(frame(spark, t, fmt, seed, file, rows), path,
          rle = fmt == Fmt.SasRle, rdc = fmt == Fmt.SasRdc)
        exp.merge(Gen.expect(t, seed, file, rows))
      case Fmt.Plain => throw new IllegalArgumentException("no container for plain frames")
    }
    exp
  }

  /** Writes files `nos` of `t` under `d` on all cores, formats taken
    * round-robin by file number; returns (file, path, rows, expectations).
    */
  def writeMany(spark: SparkSession, d: File, t: Table, seed: Long, nos: Seq[Int],
      formats: Seq[Fmt], rowsOf: Int => Long): Seq[(Int, String, Long, Expect)] = {
    d.mkdirs()
    val out = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String, Long, Expect)]()
    Files.parallel(Session.Cores)(nos.map { no => () =>
      val fmt = formats(no % formats.size)
      val p = new File(d, f"f$no%05d.${fmt.ext}").getPath
      val rows = rowsOf(no)
      out.put(no, (no, p, rows, write(spark, t, fmt, seed, no, rows, p)))
    })
    nos.map(out.get)
  }

  /** Bytes of one row laid out uncompressed (8 per number or date, the
    * padded width rounded up to 8 per string).
    */
  def rawRowBytes(t: Table): Long = t.cols.map { c =>
    if (c.dataType == StringType) (c.asInstanceOf[Text].width + 7) / 8 * 8 else 8
  }.sum.toLong

  /** Fails set-up when a compressed container is not at most 80% of its
    * uncompressed row bytes: a fixture that does not compress would time
    * the codec's worst case instead of survey data.
    */
  def assertCompressed(fmt: Fmt, files: Seq[String], t: Table, rowsPerFile: Long): Unit =
    if (Seq(Fmt.SasRle, Fmt.SasRdc, Fmt.Sav, Fmt.Zsav).contains(fmt)) files.foreach { p =>
      val raw = rowsPerFile * rawRowBytes(t)
      val got = new File(p).length()
      require(got < 0.8 * raw,
        f"${fmt.name} fixture $p does not compress: $got bytes for $raw raw (${got.toDouble / raw}%.2f)")
    }
}
