package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{IvfPqIndexStore, SimilarityOps}
import graft.util.Cached

/** STREAMING IVF-PQ index maintenance: the serve/append/audit leg of the
  * index lifecycle — build once (q122), serve (q122's saved search),
  * append batches (q126), audit staleness (q127), REBUILD (q133) — driven
  * from a Structured Streaming source instead of a daily batch job. Each
  * micro-batch of embedding rows is appended to the saved index with
  * q126's frozen-codebook assignment (cost = |batch| dots + one
  * partition-pruned parquet append; the corpus is never re-passed), and a
  * per-vector epoch ledger makes the sink effectively-once where raw
  * `foreachBatch` + parquet append is only at-least-once: a replayed epoch
  * (post-crash re-fire of an uncommitted batch — Spark's documented
  * foreachBatch contract) is detected in the ledger and skipped.
  *
  * EXACTLY-ONCE, stated precisely (r13 ADVICE): the ledger write lands
  * AFTER the codes append, so a crash between the two re-applies the
  * epoch on replay and duplicates that epoch's code rows in STORAGE. That
  * window is DETECTED, not just tolerated (r15): [[IvfPqIndexStore
  * .applyEpochOnce]] brackets it with a per-epoch inflight marker, and a
  * replay that finds the marker stamps the set dup-exposed. Every reader
  * is duplicate-tolerant where it can matter — the saved search collapses
  * per-(cid, subspace) rows before summing ADC distances, the staleness
  * audit dedups codes on read (only on dup-exposed sets — clean sets skip
  * the full-table exchange), and [[appendedMassReport]]'s
  * arithmetic is DISTINCT-cid set algebra (never a ledger-sum
  * subtraction) — so replay can never change a search result, an audit
  * statistic, or the mass report; what it costs is duplicate rows on
  * disk, which the next rebuild ([[SimilarityOps.rebuildIvfPqIndex]])
  * compacts away by re-deriving codes from the corpus. The rebuild also
  * FOLDS the ledger (one row per applied epoch, single file), so replay
  * detection stays exact across it while the per-epoch tiny-file
  * accumulation collapses.
  *
  * SINGLE-WRITER is enforced, not assumed (r13 verdict #2): attaching a
  * sink claims the directory's writer lease
  * ([[IvfPqIndexStore.acquireLease]], one atomic create); a second
  * concurrent maintainer fails with a NAMED error instead of silently
  * interleaving the parquet append and the ledger. A lease left by a
  * crashed maintainer is released explicitly with [[releaseIvfPqLease]] —
  * the named error is the operator's recovery signal.
  */
object IndexMaintenance {

  /** Apply ONE epoch's append idempotently: returns true if the batch was
    * applied, false if the epoch was already in the ledger (replay) or the
    * batch was empty. Writes land in the CURRENT committed version set
    * (resolveRead), so maintenance keeps working across rebuilds — new
    * epochs code against the retrained model, and epochs folded by the
    * rebuild are still detected as applied. `leaseToken`, when present
    * (the sink path), is re-verified per batch so a forced lease takeover
    * stops this maintainer with a named error at its next trigger.
    */
  private[graft] def appendEpoch(batch: DataFrame, epoch: Long,
      dir: String, leaseToken: Option[String] = None): Boolean =
    // the shared leased epoch-idempotence device (IvfPqIndexStore
    // .applyEpochOnce — ONE definition with the dedup manifest, r14
    // review): one resolved set for codes and ledger, ledger LAST, the
    // build-id-keyed applied-epoch memo
    IvfPqIndexStore.applyEpochOnce(batch, epoch, dir, leaseToken,
      "IVF-PQ", "vec_id") { (b, rdir) =>
      SimilarityOps.appendToIvfPqIndexResolved(b.sparkSession, b, rdir)
    }

  /** The maintenance sink: attach to a stream of prepped embedding rows
    * (`vec_id`, `e` ARRAY<DOUBLE>) and start. Attaching CLAIMS the
    * directory's single-writer lease — a second maintainer on the same
    * directory fails here by name. The saved search (q122/q126's
    * `searchSavedIvfPq`) serves from the same directory between triggers
    * with zero coordination — parquet readers see each append atomically,
    * and a rebuild's version swap is one atomic marker create. Stop the
    * query, then [[releaseIvfPqLease]]; a lease orphaned by a crash is
    * released the same way.
    */
  def ivfPqAppendSink(vecs: DataFrame, dir: String): DataStreamWriter[Row] =
    IvfPqIndexStore.leasedEpochSink(vecs, dir, "IVF-PQ")(
      appendEpoch(_, _, dir, _))

  /** Release the index directory's single-writer lease — normal shutdown
    * after stopping the sink, and the recovery path the acquire error
    * names after a maintainer crash.
    */
  def releaseIvfPqLease(s: SparkSession, dir: String): Unit =
    IvfPqIndexStore.releaseLease(s, dir)

  /** STREAMING ANN ADMISSION GATE served by the maintained index (r14):
    * drop an arriving embedding row when the saved IVF-PQ index already
    * holds a vector within `bar` ADC distance — SemDeDup's question
    * answered at SEARCH cost on the ingest edge, where
    * [[graft.streaming.DocStreams.semanticDecontamGate]] screens against
    * a FIXED broadcast probe set (eval suites) and batch q86 re-pairs the
    * corpus. The per-trigger work is
    * [[SimilarityOps.searchSavedIvfPqFor]] — the exact operator behind
    * q135's auditable batch verdict, one definition — with the trigger's
    * rows as the query side: probes/LUT are trigger-bounded, the codes
    * scan partition-prunes to probed cells, nothing corpus-sized moves.
    *
    * SWAP-AWARE by construction: the index resolves per trigger, so a
    * q133 rebuild committed mid-stream serves the very next batch from
    * the retrained set — the reader half of the atomic-swap contract,
    * exercised continuously (spec-pinned: a vector only indexed by the
    * post-rebuild set is dropped only after the swap). Admission here is
    * the conservative quantized test (ADC under-/over-estimates true
    * distance by quantization error — size `bar` against q129's measured
    * recall); rows with no indexed neighbor within the bar pass to
    * `onAdmitted`, which typically chains [[ivfPqAppendSink]]'s
    * appendEpoch so admitted vectors immediately claim index state.
    */
  def annAdmissionSink(vecs: DataFrame, dir: String, bar: Double,
      nProbes: Int = 2)(
      onAdmitted: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      Cached.scope { c =>
        val b = c.hold(batch)
        val dup = SimilarityOps.searchSavedIvfPqFor(
            b.select(col("vec_id").as("qid"),
              expr("CAST(e AS ARRAY<DOUBLE>)").as("qe")),
            dir, nProbes, k = 1)
          .filter(col("adist") <= bar)
          .select(col("qid").as("vec_id"))
        onAdmitted(b.join(dup, Seq("vec_id"), "left_anti"), epoch)
      }
    }

  /** VECTOR-HEALTH ADMISSION GATE (r14, q140's verdict at the ingest
    * edge): drop rows that would poison the index or any cosine
    * downstream BEFORE they reach [[appendEpoch]] — a malformed embedding
    * (wrong dimension, NaN/Inf component, zero or wildly out-of-range
    * norm) admitted once is permanent index state until a rebuild, a
    * zero-norm row makes every cosine against it undefined, and a
    * truncated array fails the PQ slice arithmetic outright. ONE
    * definition with the batch audit
    * ([[graft.operators.SimilarityOps.vectorHealthAudit]]): the shared
    * [[graft.operators.SimilarityOps.vectorVerdictCol]] — row-local,
    * registration-free, zero shuffle, streaming-safe by construction.
    * Compose ahead of [[ivfPqAppendSink]] / [[annAdmissionSink]]; rows
    * it drops are exactly the rows batch q140 would flag.
    */
  def vectorHealthGate(vecs: DataFrame, dim: Int = 64,
      loNorm: Double = 0.5, hiNorm: Double = 2.0): DataFrame =
    vecs.filter(SimilarityOps.vectorVerdictCol(
      expr("CAST(e AS ARRAY<DOUBLE>)"), dim, loNorm, hiNorm) === "ok")

  /** Appended-mass report from the index directory alone (no raw
    * vectors): DISTINCT-cid set algebra over the codes table and the
    * unfolded ledger rows — appended = vectors the ledger attributes to a
    * still-unfolded epoch, base = indexed vectors outside that set. A
    * source that re-delivers the same vec_ids under a new epoch therefore
    * counts them once (the r13 shape's `countDistinct(cid) − sum(n_vecs)`
    * went negative there), and epochs a rebuild folded contribute nothing
    * (their vectors are retrained base). One row: (base_vecs,
    * appended_vecs, appended_frac, rebuild_mass) with the same 0.3
    * fraction bar as q127's default.
    */
  def appendedMassReport(s: SparkSession, dir: String,
      fracBar: Double = 0.3): DataFrame = {
    val rdir = IvfPqIndexStore.resolveRead(s, dir)
    val codes = s.read.parquet(s"$rdir/codes").select("cid").distinct()
    val appendedCids = IvfPqIndexStore.readLedger(s, rdir) match {
      case None => s.emptyDataFrame.select(lit(0L).as("cid")).limit(0)
      case Some(led) => led.filter(!col("folded") && col("cid").isNotNull)
        .select("cid").distinct()
    }
    val marked = codes.join(appendedCids.withColumn("app", lit(1L)),
      Seq("cid"), "left")
    marked.agg(
        sum(when(col("app").isNull, 1L).otherwise(0L)).as("base_vecs"),
        sum(when(col("app").isNotNull, 1L).otherwise(0L)).as("appended_vecs"),
        count(lit(1)).as("total_vecs"))
      .select(col("base_vecs"), col("appended_vecs"),
        round(col("appended_vecs").cast("double") / col("total_vecs"), 6)
          .as("appended_frac"),
        (col("appended_vecs").cast("double") / col("total_vecs") > fracBar)
          .cast("long").as("rebuild_mass"))
  }
}
