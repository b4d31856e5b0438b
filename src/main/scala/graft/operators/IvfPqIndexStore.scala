package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Cached

/** Storage mechanics for the persisted IVF-PQ index (r14): versioned index
  * sets with a one-marker-create atomic swap, a single-writer lease, and
  * the append ledger's schema/fold rules. This closes the r13 lifecycle
  * gap — build → serve → append → audit → REBUILD — by giving the rebuild
  * an actuator that is safe against concurrent readers and crashes, using
  * the SAME commit discipline as the readstat sink's
  * [[graft.sources.readstat.Compaction]] (staged files invisible until one
  * atomic marker create flips readers).
  *
  * == Layout ==
  *
  * {{{
  *   $dir/centroids, codebook, codes, append_ledger, _build_id   // v0 (legacy flat)
  *   $dir/index.v<k>/centroids, ..., _build_id, _committed       // rebuilt sets, k >= 1
  *   $dir/_writer.lease                                          // single-writer lease
  * }}}
  *
  * [[graft.operators.SimilarityOps.saveIvfPqIndexFrom]] writes the flat v0
  * layout (a fresh build); every REBUILD writes a complete new set under
  * `index.v<k>` and commits it with ONE `fs.create` of `_committed` — the
  * entire swap. Readers ([[resolveRead]]) pick the highest COMMITTED
  * version, falling back to the flat layout: a reader that resolved v<k>
  * just before a commit keeps reading v<k>'s files, which the rebuild
  * never touches (retention below), so there is no mid-swap window where
  * new centroids pair with old codes. A crash at ANY point before the
  * marker leaves an uncommitted `index.v<k>` directory that readers
  * ignore and the next rebuild clobbers — never a half-visible index.
  *
  * == Retention ==
  *
  * [[pruneVersions]] keeps the current set plus `keep` predecessors
  * (default 1) so in-flight readers of the immediately previous version
  * survive a rebuild; older sets and uncommitted leftovers are garbage.
  * `keep = 0` is for offline/no-concurrent-reader maintenance only.
  *
  * == Ledger schema ==
  *
  * One row PER APPENDED VECTOR: (epoch LONG, cid LONG, folded BOOLEAN).
  * The r13 ledger stored one (epoch, n_vecs) row per epoch and computed
  * appended mass as `countDistinct(codes.cid) - sum(n_vecs)` — which goes
  * wrong (negative base, appended_frac > 1) as soon as a source
  * re-delivers vec_ids already indexed under a new epoch (r13 ADVICE).
  * Per-cid rows make the mass arithmetic set-based and replay-proof:
  * appended = DISTINCT unfolded ledger cids, base = codes cids NOT in that
  * set. Replay detection only needs the epoch column; a rebuild FOLDS the
  * ledger into the new version as (epoch, null, true) rows — one tiny row
  * per epoch ever applied, so detection stays exact across the fold while
  * folded epochs stop counting as appended mass (their vectors were
  * retrained into the new base). The fold is also the file-count fix: the
  * per-epoch tiny-file accumulation ("one parquet file per trigger")
  * collapses to a single coalesced file at every rebuild.
  */
object IvfPqIndexStore {

  private val VDir = """index\.v(\d+)""".r
  private val LeaseName = "_writer.lease"
  private val MarkerName = "_committed"
  private val BuildIdName = "_build_id"
  private val DupsName = "_dups_possible"
  private def inflightName(epoch: Long) = s"_inflight.e$epoch"

  private def fsOf(s: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** (version, path) of every `index.v<k>` subdirectory, committed or not. */
  private def versionDirs(fs: FileSystem, dir: String): Seq[(Long, HPath)] = {
    val p = new HPath(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case VDir(k) => Some(k.toLong -> st.getPath)
        case _ => None
      }
    }
  }

  /** Highest committed version number; 0 = the flat legacy layout. */
  def committedVersion(s: SparkSession, dir: String): Long = {
    val fs = fsOf(s, dir)
    val committed = versionDirs(fs, dir)
      .filter { case (_, p) => fs.exists(new HPath(p, MarkerName)) }
    if (committed.isEmpty) 0L else committed.map(_._1).max
  }

  /** The directory every reader/appender must use: the highest COMMITTED
    * version set, else the flat layout. One listing per call — stable
    * between rebuilds, and a rebuild never mutates previously committed
    * sets, so a frame planned against the resolved path stays consistent
    * however the swap races it.
    */
  def resolveRead(s: SparkSession, dir: String): String = {
    val v = committedVersion(s, dir)
    if (v == 0L) dir else s"$dir/index.v$v"
  }

  /** The version a rebuild stages into: one past anything ever seen at
    * this path (committed or crashed-uncommitted) so a rebuild never
    * writes into a directory a concurrent reader could be scanning.
    */
  private[graft] def nextVersion(s: SparkSession, dir: String): Long = {
    val vs = versionDirs(fsOf(s, dir), dir).map(_._1)
    if (vs.isEmpty) 1L else vs.max + 1L
  }

  /** THE COMMIT: one atomic marker create flips every subsequent
    * [[resolveRead]] to this set.
    */
  private[graft] def commit(s: SparkSession, versionDir: String): Unit =
    fsOf(s, versionDir).create(new HPath(versionDir, MarkerName), true).close()

  /** The flat (v0) file set a store retires once versioned sets age it
    * out — the IVF-PQ default; [[graft.streaming.DedupManifest]] passes
    * its own table names through `flatFiles`.
    */
  private val ivfPqFlatFiles =
    Seq("centroids", "codebook", "codes", "append_ledger")

  /** Drop committed sets older than (current − keep) plus any uncommitted
    * leftovers below the current version; retire the flat v0 files once
    * they age out the same way. Never touches the current set.
    */
  private[graft] def pruneVersions(s: SparkSession, dir: String,
      keep: Int = 1, flatFiles: Seq[String] = ivfPqFlatFiles): Unit = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    val fs = fsOf(s, dir)
    val current = committedVersion(s, dir)
    versionDirs(fs, dir).foreach { case (v, p) =>
      val committed = fs.exists(new HPath(p, MarkerName))
      if ((committed && v < current - keep) || (!committed && v < current))
        fs.delete(p, true)
    }
    if (current - keep > 0) {
      (flatFiles :+ BuildIdName :+ DupsName).foreach { n =>
        val p = new HPath(dir, n)
        if (fs.exists(p)) fs.delete(p, true)
      }
      // retired flat sets also shed any inflight-epoch markers
      val dp = new HPath(dir)
      if (fs.exists(dp)) fs.listStatus(dp).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("_inflight.e"))
        .foreach(st => fs.delete(st.getPath, false))
    }
  }

  // ------------------------------------------------------------- build id

  /** Stamp a freshly built set with a unique build id — the memo key the
    * maintenance caches pair with the path (r13 ADVICE: a JVM-lifetime
    * memo keyed on path alone goes stale when an index is deleted and
    * rebuilt at the same path within one JVM).
    */
  private[graft] def writeBuildId(s: SparkSession, dir: String): Unit = {
    val out = fsOf(s, dir).create(new HPath(dir, BuildIdName), true)
    out.write(java.util.UUID.randomUUID().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** The set's build id ("legacy" for pre-r14 sets without the stamp). */
  def buildId(s: SparkSession, resolvedDir: String): String = {
    val fs = fsOf(s, resolvedDir)
    val p = new HPath(resolvedDir, BuildIdName)
    if (!fs.exists(p)) "legacy"
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    }
  }

  // -------------------------------------------------------- dup exposure

  /** Whether this set's tables may hold exact-duplicate rows from an epoch
    * replay (r15, the q127 ×2.3 fix): the ONLY dup-creating event in the
    * leased lifecycle is a crash between [[applyEpochOnce]]'s table append
    * and its ledger write — the epoch is then absent from the ledger, so
    * the next trigger replays it and re-appends rows the crashed attempt
    * may already have committed. That exposure is detected PRECISELY (the
    * epoch's inflight marker survives the crash and is found by the
    * replay), stamped here once, and cleared only by a rebuild/compaction
    * writing a fresh set. Readers that previously paid an unconditional
    * defensive `dropDuplicates` over the whole table (a full-table
    * exchange, forever, on every audit) consult this flag and take the
    * dedup-free fast path on clean sets — which is every set that never
    * crashed inside the one statement-pair window.
    */
  def dupsPossible(s: SparkSession, resolvedDir: String): Boolean =
    fsOf(s, resolvedDir).exists(new HPath(resolvedDir, DupsName))

  private[graft] def markDupsPossible(s: SparkSession, resolvedDir: String): Unit =
    fsOf(s, resolvedDir).create(new HPath(resolvedDir, DupsName), true).close()

  // ---------------------------------------------------------------- lease

  /** Acquire the single-writer lease on an index directory, or fail with a
    * NAMED error (the maxStrlBytes discipline): the r13 maintenance sink
    * documented single-writer as an unenforced assumption, and a second
    * `ivfPqAppendSink` on the same directory silently interleaved the
    * parquet append and the ledger. `fs.create(overwrite = false)` is the
    * atomic claim. A lease left by a crashed maintainer must be released
    * explicitly ([[releaseLease]]) — the named error is the operator's
    * signal to decide, not the library's to guess.
    */
  def acquireLease(s: SparkSession, dir: String, token: String,
      what: String = "IVF-PQ"): Unit = {
    val fs = fsOf(s, dir)
    val dp = new HPath(dir)
    if (!fs.exists(dp)) fs.mkdirs(dp)
    val p = new HPath(dir, LeaseName)
    try {
      val out = fs.create(p, false)
      out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    } catch {
      case _: java.io.IOException =>
        throw new IllegalStateException(
          s"graft $what single-writer lease: directory $dir is " +
            s"already claimed by maintainer ${leaseHolder(s, dir).getOrElse("<unreadable>")}; " +
            "a second concurrent maintainer would interleave the " +
            "table append and the epoch ledger. If the holder crashed, " +
            "release the lease explicitly (releaseLease).")
    }
  }

  /** The current lease holder's token, if a lease file exists. */
  def leaseHolder(s: SparkSession, dir: String): Option[String] = {
    val fs = fsOf(s, dir)
    val p = new HPath(dir, LeaseName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Release the lease unconditionally — normal shutdown and the
    * documented crash-recovery path behind [[acquireLease]]'s named error.
    */
  def releaseLease(s: SparkSession, dir: String): Unit =
    fsOf(s, dir).delete(new HPath(dir, LeaseName), false)

  /** Verify this maintainer still holds the lease it acquired — a forced
    * takeover ([[releaseLease]] + re-acquire by another maintainer) must
    * surface as a named error at the old maintainer's next batch, not as
    * silent interleaving.
    */
  private[graft] def requireLease(s: SparkSession, dir: String,
      token: String, what: String = "IVF-PQ"): Unit =
    leaseHolder(s, dir) match {
      case Some(t) if t == token => ()
      case other => throw new IllegalStateException(
        s"graft $what single-writer lease: maintainer lost the lease on $dir " +
          s"(held by ${other.getOrElse("<none>")}) — another maintainer took " +
          "over; this sink must stop.")
    }

  // --------------------------------------------------------------- ledger

  /** The resolved set's ledger, normalized to (epoch, cid, folded); None
    * when no ledger exists. Legacy (epoch, n_vecs) rows read as folded
    * (epochs still replay-detected; their mass signal predates the
    * per-cid schema and is not reconstructible).
    */
  def readLedger(s: SparkSession, resolvedDir: String): Option[DataFrame] = {
    val p = new HPath(s"$resolvedDir/append_ledger")
    if (!fsOf(s, resolvedDir).exists(p)) None
    else {
      val raw = s.read.parquet(p.toString)
      Some(
        if (raw.columns.contains("cid"))
          raw.select(col("epoch").cast("long").as("epoch"),
            col("cid").cast("long").as("cid"), col("folded"))
        else raw.select(col("epoch").cast("long").as("epoch"),
          lit(null).cast("long").as("cid"), lit(true).as("folded")))
    }
  }

  /** Applied-epoch memo per (JVM, resolved dir, build id): seeded from
    * the on-disk ledger ONCE (a restart still sees every committed epoch,
    * including epochs a rebuild/compaction folded), then maintained in
    * memory — without it the replay check re-reads the whole ledger per
    * trigger, O(stream age) driver work. Build-id keying survives path
    * reuse; a rebuild's version bump re-keys through the resolved path.
    */
  private val ledgerCache =
    new java.util.concurrent.ConcurrentHashMap[String, scala.collection.mutable.Set[Long]]()
  private def appliedEpochs(s: SparkSession,
      rdir: String): scala.collection.mutable.Set[Long] =
    ledgerCache.computeIfAbsent(s"$rdir@${buildId(s, rdir)}",
      _ => readLedger(s, rdir) match {
        case None => scala.collection.mutable.Set.empty
        case Some(led) => scala.collection.mutable.Set(
          led.select("epoch").distinct().collect().map(_.getLong(0)): _*)
      })

  /** THE shared epoch-idempotence device (r14 review: one definition for
    * every leased append store — IVF-PQ maintenance and the dedup
    * manifest previously carried verbatim copies): verify the lease,
    * resolve ONE version set for tables and ledger, skip replayed or
    * empty epochs, run the store-specific `append` against the resolved
    * set, and write the ledger LAST so its presence implies the append
    * completed. Returns true iff the epoch was applied. `idCol` is the
    * batch's id column recorded in the per-row ledger.
    */
  private[graft] def applyEpochOnce(batch: DataFrame, epoch: Long,
      dir: String, leaseToken: Option[String], what: String,
      idCol: String)(append: (DataFrame, String) => Unit): Boolean = {
    val s = batch.sparkSession
    leaseToken.foreach(requireLease(s, dir, _, what))
    val rdir = resolveRead(s, dir)
    val fs = fsOf(s, rdir)
    val inflight = new HPath(rdir, inflightName(epoch))
    val applied = appliedEpochs(s, rdir)
    if (applied.contains(epoch)) {
      // a crash AFTER the ledger write but before the marker delete left a
      // stale inflight marker for a fully-applied epoch — no exposure
      // (ledger presence implies the append committed exactly once)
      if (fs.exists(inflight)) fs.delete(inflight, false): Unit
      return false
    }
    // the batch feeds the emptiness check, the table append AND the
    // ledger rows — held so the source is read once per trigger (a batch
    // that arrives cached stays its caller's)
    Cached.scope { c =>
      val b = c.hold(batch)
      if (b.isEmpty) false
      else {
        // inflight-marker protocol: the marker brackets exactly the
        // append→ledger window. Finding one here for an epoch NOT in the
        // ledger means a prior attempt crashed inside that window and may
        // have committed its table append — the re-append below can then
        // create exact-duplicate rows, so the set is stamped dup-exposed
        // ONCE and duplicate-tolerant readers (the staleness audit) pay
        // their defensive collapse only on sets where it can matter.
        if (fs.exists(inflight)) markDupsPossible(s, rdir)
        fs.create(inflight, true).close()
        append(b, rdir)
        appendLedger(b.select(col(idCol).as("vec_id")), epoch, rdir)
        fs.delete(inflight, false)
        applied.synchronized { applied += epoch }
        true
      }
    }
  }

  /** The leased foreachBatch attach every epoch sink shares: claim the
    * single-writer lease (named error on a second maintainer), thread the
    * token into each trigger's apply so a forced takeover stops this
    * maintainer by name at its next batch.
    */
  private[graft] def leasedEpochSink(rows: DataFrame, dir: String,
      what: String)(
      applyEpoch: (DataFrame, Long, Option[String]) => Boolean)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val token = java.util.UUID.randomUUID().toString
    acquireLease(rows.sparkSession, dir, token, what)
    rows.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      applyEpoch(batch, epoch, Some(token)): Unit
    }
  }

  /** Record one applied epoch: one row per appended vector, unfolded. */
  private[graft] def appendLedger(batch: DataFrame, epoch: Long,
      resolvedDir: String): Unit =
    batch.select(lit(epoch).as("epoch"),
        col("vec_id").cast("long").as("cid"), lit(false).as("folded"))
      .write.mode("append").parquet(s"$resolvedDir/append_ledger")

  /** The rebuild's ledger fold: every epoch ever applied to the source
    * set lands in the new set as ONE (epoch, null, folded=true) row in a
    * single coalesced file — replay detection stays exact across the
    * fold, appended-mass accounting restarts at zero (the folded epochs'
    * vectors are now retrained base), and a year-scale stream's
    * one-file-per-epoch accumulation collapses.
    */
  private[graft] def foldLedgerInto(s: SparkSession, fromDir: String,
      toDir: String): Unit =
    readLedger(s, fromDir).foreach { led =>
      led.select("epoch").distinct()
        .select(col("epoch"), lit(null).cast("long").as("cid"),
          lit(true).as("folded"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$toDir/append_ledger")
    }
}
