package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Truncated containers must fail with a clear exception (or return only
  * the intact prefix where the format makes that detectable) — never hang,
  * loop, or fabricate rows.
  */
class CorruptFileSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_corrupt").resolve(name).toString

  private def truncate(path: String, keep: Double): Unit = {
    val p = Paths.get(path)
    val bytes = Files.readAllBytes(p)
    Files.write(p, java.util.Arrays.copyOf(bytes, (bytes.length * keep).toInt),
      StandardOpenOption.TRUNCATE_EXISTING)
  }

  test("dta truncated mid-data fails with EOF, not a hang or bad rows") {
    val p = tmp("trunc.dta")
    spark.range(50000).select(col("id").cast("double").as("x"))
      .write.format("readstat").mode("overwrite").save(p)
    truncate(p, 0.6)
    val e = intercept[Exception] {
      spark.read.format("readstat").load(p).agg(sum("x")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.toLowerCase.contains("eof") || m.contains("unexpected")),
      s"expected an EOF-style error, got: ${msgs(e)}")
  }

  test("sas truncated mid-page stops cleanly at the intact prefix") {
    val p = tmp("trunc.sas7bdat")
    spark.range(50000).select(col("id").cast("double").as("x"))
      .write.format("readstat").mode("overwrite").save(p)
    truncate(p, 0.6)
    // SAS pages are self-delimiting: a partial trailing page yields fewer
    // rows, never garbage — the scan must terminate and values must be the
    // untruncated prefix
    val rows = spark.read.format("readstat").load(p)
      .select("x").collect().map(_.getDouble(0))
    assert(rows.length < 50000 && rows.length > 0)
    assert(rows.zipWithIndex.forall { case (v, i) => v == i.toDouble })
  }

  test("zsav truncated mid-block fails with a named error, not silent row drop") {
    val p = tmp("trunc.zsav")
    spark.range(200000).select(col("id").cast("double").as("x"))
      .write.format("readstat").mode("overwrite").save(p)
    // cut into the deflate blocks but keep the header region: the ztrailer
    // (end of file) is gone and block reads run past EOF — the lookahead
    // stream must surface a zsav-named error from whichever stage hits it
    truncate(p, 0.7)
    val e = intercept[Exception] {
      spark.read.format("readstat").load(p).agg(sum("x")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("zsav") || m.toLowerCase.contains("eof")),
      s"expected a zsav/EOF error, got: ${msgs(e)}")
  }

  test("sas header declaring a length past the file is a named error, not an OOM") {
    // 288 bytes: the magic, little-endian, 32-bit alignment, and a header
    // length of 0x7FFFFFF0 at offset 196 — the reader would allocate ~2 GB
    val bytes = java.util.Arrays.copyOf(
      graft.sources.readstat.sas.Sas.Magic, 288)
    bytes(37) = 0x01
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(196, 0x7FFFFFF0)
    val dir = Files.createTempDirectory("graft_corrupt_sas")
    val bad = dir.resolve("bad.sas7bdat")
    Files.write(bad, bytes)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e = intercept[Exception] {
      spark.read.format("readstat").load(bad.toString).collect()
    }
    assert(msgs(e).exists(_.contains("sas7bdat: header length 2147483632")),
      s"expected the named header-length error, got: ${msgs(e)}")

    // PERMISSIVE: the bad file is quarantined with a record, a good
    // neighbour still arrives whole
    spark.range(100).select(col("id").cast("double").as("x")).coalesce(1)
      .write.format("readstat").mode("overwrite")
      .save(dir.resolve("good.sas7bdat").toString)
    val badDir = Files.createTempDirectory("graft_badfiles_sas").toString
    val xs = spark.read.format("readstat")
      .option("mode", "PERMISSIVE").option("badFilesPath", badDir)
      .load(dir.toString).select("x").collect().map(_.getDouble(0)).sorted
    assert(xs.toSeq === (0 until 100).map(_.toDouble))
    val body = Option(new java.io.File(badDir).listFiles()).getOrElse(Array.empty)
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(body.contains(bad.toString) && body.contains("sas7bdat: header length"),
      s"expected a quarantine record for the bad file, got: $body")
  }

  test("header-corrupt file fails fast with a format error") {
    val p = tmp("garbage.dta")
    Files.write(Paths.get(p), Array.fill[Byte](4096)(0x5A))
    val e = intercept[Exception] {
      spark.read.format("readstat").load(p).collect()
    }
    assert(e != null)
  }
}
