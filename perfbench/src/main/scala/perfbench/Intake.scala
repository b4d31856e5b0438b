package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Open-loop intake: pre-written files land in a watched directory on a
  * fixed schedule, whatever the consumer does, while a
  * `readStream.format("readstat")` query consumes them. Each file is timed
  * from its scheduled landing to its rows arriving in the sink; the files
  * carry a `file_id` column that attributes rows to them.
  */
object Intake {

  /** `pending`: (file id, path, rows). Lands `seconds * rate` of them after
    * a first one has primed the query.
    */
  def run(rec: Recorder, schema: StructType, dir: File, pending: Seq[(Int, String, Long)],
      rate: Double, seconds: Double): Map[String, Any] = {
    val spark = rec.spark
    val watch = new File(dir, "watch")
    watch.mkdirs()
    val arrivals = new ConcurrentHashMap[Int, (Long, Long)]() // file -> (rows, arrival ns)
    val batchFiles = new ArrayBuffer[Int]()
    val q = spark.readStream.format("readstat").schema(schema)
      .option("maxFilesPerTrigger", "50")
      .load(watch.getPath)
      .writeStream
      .option("checkpointLocation", new File(dir, "checkpoint").getPath)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.groupBy("file_id").agg(count(lit(1))).collect()
        val now = System.nanoTime()
        got.foreach(r => arrivals.put(r.getDouble(0).toInt, (r.getLong(1), now)))
        batchFiles.synchronized(batchFiles += got.length)
        ()
      }
      .start()
    try {
      val (primer, primerPath, _) = pending.head
      land(primerPath, watch)
      val primed = System.nanoTime() + 60L * 1000000000L
      while (!arrivals.containsKey(primer) && System.nanoTime() < primed) Thread.sleep(5)
      require(arrivals.containsKey(primer), "stream did not pick up its first file within 60 s")
      batchFiles.synchronized(batchFiles.clear())
      val todo = pending.tail.take(math.max(1, (seconds * rate).toInt)).toIndexedSeq
      val t0 = System.nanoTime() + 50000000L
      val due = todo.indices.map(i => t0 + (i / rate * 1e9).toLong)
      val late = todo.indices.map { i =>
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        land(todo(i)._2, watch)
        (System.nanoTime() - due(i)) / 1e6
      }
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (todo.exists(f => !arrivals.containsKey(f._1)) && System.nanoTime() < deadline) Thread.sleep(5)
      rec.attempted += todo.size
      val lags = todo.indices.flatMap { i =>
        val (no, _, rows) = todo(i)
        Option(arrivals.get(no)) match {
          case None =>
            rec.failed += 1
            rec.errors += s"intake f$no: not in the sink 30 s after the last landing"
            None
          case Some((got, at)) =>
            if (got != rows) rec.mismatches += s"intake f$no: $got rows != $rows"
            Some((at - due(i)) / 1e9)
        }
      }
      val perBatch = batchFiles.synchronized(batchFiles.toSeq).map(_.toDouble)
      Map(
        "rate_files_per_s" -> rate,
        "files" -> todo.size,
        "intake_lag_p50_s" -> (if (lags.isEmpty) Double.NaN else Stats.median(lags)),
        "intake_lag_p95_s" -> (if (lags.isEmpty) Double.NaN else Stats.percentile(lags, 0.95)),
        "generator_late_ms_max" -> late.max,
        "batches" -> perBatch.size,
        "files_per_batch" -> (if (perBatch.isEmpty) 0.0 else Stats.median(perBatch)))
    } finally q.stop()
  }

  private def land(path: String, watch: File): Unit = {
    val f = new File(path)
    require(f.renameTo(new File(watch, f.getName)), s"could not move $path into the watched directory")
  }

}
