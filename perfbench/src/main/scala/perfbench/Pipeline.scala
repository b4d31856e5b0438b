package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.ReadstatQueries

/** The operators/functions probe: a fixed mix of the library's own queries
  * (`SparkEntry.queries`) over seeded TPC-H-like and document tables shaped
  * like the library's sf0.01 test tables. Each query runs once untimed,
  * then once timed inside the traced run; both outputs are checked against
  * `SparkEntry.oracleSql` evaluated by DuckDB (`perfbench/oracle.py`, the
  * comparison rules of the library's `tools/selfcheck.py`).
  */
object Pipeline {

  /** q03: join + top-k; q56: zsav write and readstat scan; q66: a filled
    * codebook cache; q71/q79: window and gram dedup with cache fills;
    * q125: the media waterfall's decode stage.
    */
  val Queries: Seq[String] = Seq("q03_join3_topk", "q56_zsav_roundtrip_agg", "q66_pq_adc_topk",
    "q71_window_dedup", "q79_decontam_frac", "q125_media_waterfall")

  val Customers = 1500
  val Orders = 15000
  val LineItems = 60000
  val Documents = 500
  val Vectors = 500

  private val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val words = IndexedSeq("a", "the", "row", "key", "agg", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "window", "order", "data", "column", "join",
    "small", "big", "line", "customer", "query", "stream", "sort", "group", "filter", "vector", "sql")
  private val langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
  /** 1995-01-01 in epoch days, and the order-date span in days. */
  private val day0 = 9131
  private val daySpan = 2404

  private def ts(day: Int): Timestamp = new Timestamp(day * 86400000L)
  private def cents(rng: SplittableRandom, lo: Int, hi: Int): Double = (lo + rng.nextInt(hi - lo)) / 100.0

  private def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })

  /** The generated tables: (name, schema, rows). */
  def rows(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    def rng(k: Long) = new SplittableRandom(Gen.mix(seed, 77000L + k, 0L))
    val r = rng(1)
    val customer = (0 until Customers).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(r, -99999, 999999), segments(r.nextInt(5)))
    }
    val o = rng(2)
    val orderDay = new Array[Int](Orders)
    val orders = (0 until Orders).map { i =>
      orderDay(i) = day0 + o.nextInt(daySpan)
      Row(i.toLong, o.nextInt(Customers).toLong, "FOP".charAt(o.nextInt(3)).toString,
        cents(o, 100000, 50000000), ts(orderDay(i)), priorities(o.nextInt(5)))
    }
    val l = rng(3)
    val lineitem = (0 until LineItems).map { _ =>
      val ok = l.nextInt(Orders)
      val qty = (1 + l.nextInt(50)).toDouble
      Row(ok.toLong, l.nextInt(2000).toLong, l.nextInt(100).toLong, 1 + l.nextInt(7), qty,
        cents(l, 90000, 10500000), l.nextInt(11) / 100.0, l.nextInt(9) / 100.0,
        "ANR".charAt(l.nextInt(3)).toString, "FO".charAt(l.nextInt(2)).toString,
        ts(orderDay(ok) + 1 + l.nextInt(120)))
    }
    // documents: random word runs, with one in eight carrying a 30-word
    // passage copied from an earlier document (the eval documents 0..9
    // among them), so the dedup and decontamination queries find overlap
    val d = rng(4)
    val texts = new Array[Array[String]](Documents)
    val documents = (0 until Documents).map { i =>
      val t = Array.fill(8 + d.nextInt(90))(words(d.nextInt(words.size)))
      texts(i) = if (i > 10 && d.nextInt(8) == 0) {
        val src = texts(d.nextInt(i))
        val at = d.nextInt(math.max(1, src.length - 30))
        t ++ src.slice(at, at + 30)
      } else t
      val text = texts(i).mkString(" ")
      Row(i.toLong, text, langs(d.nextInt(langs.size)), s"src${d.nextInt(20)}", text.length.toLong)
    }
    // embeddings: 10 labelled clusters in 64 dimensions
    val e = rng(5)
    val centres = Array.fill(10, 64)(e.nextDouble(-0.15, 0.15))
    val embeddings = (0 until Vectors).map { i =>
      val label = e.nextInt(10)
      Row(i.toLong, centres(label).map(c => (c + e.nextDouble(-0.12, 0.12)).toFloat).toSeq, label)
    }
    Seq(
      ("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), customer),
      ("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), orders),
      ("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType), lineitem),
      ("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType), embeddings))
  }

  /** Writes the tables (one parquet directory each, `<name>.parquet`) under `dir`. */
  def tables(spark: SparkSession, dir: File, seed: Long): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try rows(seed).foreach { case (name, schema, rs) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
        .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }

  /** Runs one query and writes its rows as parquet under `out/<name>`, the
    * way the library's verify run dumps them.
    */
  private def runQuery(rec: Recorder, tablesDir: File, out: File, name: String): Unit = {
    val spark = rec.spark
    spark.catalog.clearCache()
    ReadstatQueries.clearCache()
    val df = rec.tracer.span("operators.plan")(SparkEntry.queries(name)(spark, tablesDir.getPath))
    rec.tracer.span("operators.execute")(
      df.coalesce(1).write.mode("overwrite").parquet(new File(out, name).getPath))
  }

  /** `op.<query>.{s,task_s,shuffle_mb,cache_mb,task_over_wall}` of the
    * timed pass. Mismatches against the oracle go to `rec`.
    */
  def layers(rec: Recorder, engine: EngineListener, dir: File, seed: Long): Map[String, (Double, String)] = {
    val tablesDir = new File(dir, "tables")
    val warm = new File(dir, "warm")
    val timed = new File(dir, "timed")
    rec.tracer.span("pipeline.tables")(tables(rec.spark, tablesDir, seed))
    Queries.foreach(q => rec.op("pipeline_warm", q) { runQuery(rec, tablesDir, warm, q); Nil })
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    Queries.foreach { q =>
      engine.await()
      val cached0 = engine.cachedBytes
      val first = rec.ops.size
      rec.op("query", q) { runQuery(rec, tablesDir, timed, q); Nil }
      engine.await()
      // a failed query has no record: its metrics are NaN (null in the JSON)
      val o = rec.ops.drop(first).headOption
      val j = o.flatMap(x => engine.op(x.jobTag)).getOrElse(new OpJobs)
      val secs = o.map(_.secs).getOrElse(Double.NaN)
      out(s"op.$q.s") = (secs, "s")
      out(s"op.$q.task_s") = (j.taskNs / 1e9, "s")
      out(s"op.$q.shuffle_mb") = (j.shuffleWrite / 1e6, "MB")
      out(s"op.$q.cache_mb") = ((engine.cachedBytes - cached0) / 1e6, "MB")
      out(s"op.$q.task_over_wall") = (j.taskNs / 1e9 / secs, "ratio")
    }
    rec.mismatches ++= rec.tracer.span("pipeline.oracle")(Oracle.check(dir, tablesDir, Seq(warm, timed)))
    out.toMap
  }
}

/** Runs `perfbench/oracle.py` (DuckDB) over the pipeline outputs. */
object Oracle {
  /** The oracle script, next to this benchmark's sources in the checkout. */
  def script: File = {
    val f = new File(sys.props.getOrElse("perfbench.home", "perfbench"), "oracle.py")
    require(f.isFile, s"oracle script $f not found")
    f
  }

  /** Mismatches of each output directory's query results (empty when all match). */
  def check(dir: File, tablesDir: File, outs: Seq[File]): Seq[String] = {
    val sqlFile = new File(dir, "oracle_sql.json")
    val sql = Pipeline.Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    val w = new java.io.PrintWriter(sqlFile)
    try w.println(Json.render(sql)) finally w.close()
    val log = new File(dir, "oracle.log")
    val p = new ProcessBuilder((Seq("python3", script.getPath, tablesDir.getPath, sqlFile.getPath) ++
      outs.map(_.getPath)): _*).redirectErrorStream(true).redirectOutput(log).start()
    if (!p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      Seq("pipeline oracle timed out")
    } else if (p.exitValue() != 0) {
      Seq(s"pipeline oracle exited ${p.exitValue()}: ${scala.io.Source.fromFile(log).mkString.takeRight(400)}")
    } else {
      val lines = scala.io.Source.fromFile(log).getLines().toSeq
      val passed = lines.count(_.startsWith("PASS"))
      val want = Pipeline.Queries.size * outs.size
      lines.filter(_.startsWith("FAIL")).map(l => s"pipeline $l") ++
        (if (passed == want) Nil else Seq(s"pipeline oracle passed $passed of $want results"))
    }
  }
}
