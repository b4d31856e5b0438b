package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvfPqIndexStore, MultimodalOps, TextOps}
import graft.util.Cached
import graft.util.Tables._

/** MATERIALIZED CURATION-STAGE TABLES (r15, the r14 verdict's #3): q113's
  * text waterfall and q125's media waterfall are day-scale computations
  * whose outputs — "which stage did each document fall at, and who is its
  * canonical keeper" — are read by every downstream verdict (q128's
  * multimodal disposition, q134's cross-modal keeper consistency, the
  * streaming dashboards). Until now each verdict RE-RAN its component
  * waterfalls per query: correct and linear, but at lake scale that is
  * three full pipeline passes per read of what is actually a slowly
  * changing table. This store persists the stage outputs once and serves
  * every verdict from the saved tables — the q143 manifest discipline
  * applied to the waterfalls.
  *
  * == Layout (the [[IvfPqIndexStore]] disciplines, reused verbatim) ==
  *
  * {{{
  *   $dir/text_log  (doc_id, fp, stage, keeper)       — q113's stage + election
  *   $dir/media     (kind, doc_id, stage, kept_id)    — q125's dispositions
  *   $dir/append_ledger                               — (epoch, cid, folded)
  *   $dir/_build_id, _writer.lease, index.v<k>/...    — versioned swap sets
  * }}}
  *
  * The text_log row is exactly what the streaming accounting sink's
  * per-trigger unit ([[DocStreams.waterfallStageOf]]) emits, so ONE
  * schema serves both writers: [[materializeFrom]] builds it from the
  * batch waterfalls (the from-scratch builder, scheduled like the IVF-PQ
  * rebuild), and [[DocStreams.waterfallAccountingSink]] with a
  * `persistTo` directory appends each trigger's rows through the shared
  * leased epoch-idempotence device ([[IvfPqIndexStore.applyEpochOnce]] —
  * replay-proof, ledger LAST, dup exposure stamped precisely).
  * [[rematerialize]] swaps in a fresh set atomically (one marker create,
  * ledger folded, predecessors retained for in-flight readers) — the
  * q133 rebuild applied to the stage tables.
  *
  * == Derivations (one definition each) ==
  *
  * The keeper MAP is not stored separately: `keeper = true` rows are the
  * elected fingerprint owners, so the map is `stage != 'gates'` rows
  * joined to the keeper rows on fp — algebraically [[TextOps
  * .textKeeperMap]]'s election read off the log (the min-per-fp fold in
  * [[textKeeperMapServed]] collapses the restart corner where
  * at-least-once delivery re-elected a fingerprint). The verdict and
  * consistency assemblies are [[MultimodalOps.verdictAssembly]] /
  * [[MultimodalOps.consistencyAssembly]] — the SAME functions the
  * recompute paths call, so served and recomputed rows cannot drift
  * (spec-pinned row equality; the q128/q134 oracles are unchanged, the
  * q122/q133 one-oracle-text discipline).
  *
  * == Restart contract ==
  *
  * The accounting sink's history Bloom lives with the query; on restart
  * seed it from the log's keeper fingerprints ([[keeperFingerprints]]) —
  * the batch-reconciliation contract every gate documents, now with the
  * reconciliation source one read away.
  *
  * == Scale shape ==
  *
  * Serving q128/q134 costs two saved-table reads + the doc-keyed
  * join/agg the assemblies always cost — the three waterfall passes are
  * paid once per build/rematerialize cycle, not per verdict. The media
  * table rides the batch rematerialize schedule (binary assets arrive in
  * bulk drops); the text log additionally tracks the 24/7 intake stream.
  */
object CurationStore {

  private val FlatTables = Seq("text_log", "media", "append_ledger")
  private[streaming] val What = "curation-store"

  /** The batch-built text log — (doc_id, fp, stage, keeper), one row per
    * corpus document: q113's stage, the doc's fingerprint, and whether
    * this doc is its fingerprint's elected keeper (the same election
    * [[TextOps.textKeeperMap]] computes; gate-failers have no text
    * identity and are never keepers). The two waterfall outputs it joins
    * are adopted into the caller's scope `c`.
    */
  private[graft] def batchTextLog(c: Cached.Scope, docs: DataFrame): DataFrame = {
    val stage = c.adopt(TextOps.pipelineWaterfall(docs))
    val tk = c.adopt(TextOps.textKeeperMap(docs))
    val fp = docs.select(col("doc_id"),
      TextOps.fingerprintCol(col("text")).as("fp"))
    stage.select(col("doc_id"), col("stage"))
      .join(fp, "doc_id")
      .join(tk, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp"), col("stage"),
        coalesce(col("keep_id") === col("doc_id"), lit(false)).as("keeper"),
        // batch-built rows carry no epoch lineage (they are committed by
        // the build itself); streamed appends stamp theirs so the restart
        // reseed can exclude a crashed epoch's un-ledgered rows (see
        // [[committedKeeperFingerprints]])
        lit(null).cast("long").as("__epoch"))
  }

  /** Initialize the store from a standing corpus — the from-scratch
    * builder (flat v0 layout, like [[DedupManifest.initManifest]]).
    */
  def materialize(s: SparkSession, d: String, dir: String): Unit =
    materializeFrom(documents(s, d), MultimodalOps.mediaWaterfall(s, d), dir)

  /** [[materialize]] over explicit documents + q125-shaped media frames —
    * the seam specs drive planted fixtures through. `media` must carry
    * (kind, doc_id, stage, kept_id); it is released after the write (it
    * is mediaWaterfall's persisted output on the operator path).
    */
  def materializeFrom(docs: DataFrame, media: DataFrame, dir: String): Unit = {
    writeStageTables(docs, media, dir)
    IvfPqIndexStore.writeBuildId(docs.sparkSession, dir)
  }

  /** The text log and media tables under `dir`; the text log's waterfall
    * outputs are released after its write, `media` after its own.
    */
  private def writeStageTables(docs: DataFrame, media: DataFrame, dir: String): Unit =
    Cached.scope { c =>
      c.adopt(media)
      Cached.scope(ct => batchTextLog(ct, docs).write.mode("overwrite").parquet(s"$dir/text_log"))
      media.select("kind", "doc_id", "stage", "kept_id")
        .write.mode("overwrite").parquet(s"$dir/media")
    }

  /** The scheduled rebuild: stage a complete fresh set under
    * `index.v<k>`, fold the epoch ledger, commit with ONE atomic marker
    * create, retire old sets on the retention schedule — q133's swap
    * applied to the stage tables. Claims the single-writer lease (a
    * concurrent accounting sink must be stopped and its lease released
    * first, the compactManifest rationale verbatim).
    */
  def rematerialize(docs: DataFrame, media: DataFrame, dir: String,
      keep: Int = 1): Unit = {
    val s = docs.sparkSession
    val token = s"rematerialize-${java.util.UUID.randomUUID()}"
    IvfPqIndexStore.acquireLease(s, dir, token, What)
    try {
      val cur = IvfPqIndexStore.resolveRead(s, dir)
      val vdir = s"$dir/index.v${IvfPqIndexStore.nextVersion(s, dir)}"
      val vpath = new org.apache.hadoop.fs.Path(vdir)
      val fs = vpath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(vpath)) fs.delete(vpath, true) // crashed-attempt leftover
      writeStageTables(docs, media, vdir)
      IvfPqIndexStore.foldLedgerInto(s, cur, vdir)
      IvfPqIndexStore.writeBuildId(s, vdir)
      IvfPqIndexStore.commit(s, vdir)
      IvfPqIndexStore.pruneVersions(s, dir, keep, FlatTables)
    } finally IvfPqIndexStore.releaseLease(s, dir)
  }

  /** Append ONE epoch's staged rows (doc_id, fp, stage, keeper) — the
    * accounting sink's per-trigger persistence, through the shared leased
    * epoch-idempotence device.
    */
  private[streaming] def appendEpoch(staged: DataFrame, epoch: Long,
      dir: String, leaseToken: Option[String]): Boolean =
    IvfPqIndexStore.applyEpochOnce(staged, epoch, dir, leaseToken,
      What, "doc_id") { (b, rdir) =>
      b.select(col("doc_id"), col("fp"), col("stage"), col("keeper"),
          lit(epoch).as("__epoch"))
        .write.mode("append").parquet(s"$rdir/text_log")
    }

  /** The saved text log through the current committed set — duplicate
    * rows from a replay crash window collapse ONLY when the set is
    * actually dup-exposed (the conditional-dedup discipline). With the
    * committed-only Bloom reseed ([[committedKeeperFingerprints]] at sink
    * attach) a replayed epoch recomputes byte-identical rows, so the
    * duplicates this collapses are EXACT copies and the doc_id key is
    * deterministic. The `__epoch` lineage column is internal bookkeeping
    * and stripped here.
    */
  def textLog(s: SparkSession, dir: String): DataFrame = {
    val t = textLogRaw(s, IvfPqIndexStore.resolveRead(s, dir))
      .drop("__epoch")
    t
  }

  /** The resolved set's text_log with its `__epoch` lineage column intact
    * (null on legacy/pre-lineage sets), dup-collapsed per the conditional
    * discipline.
    */
  private def textLogRaw(s: SparkSession, rdir: String): DataFrame = {
    // mergeSchema: a pre-lineage base (4 columns) with post-lineage
    // appends (5) must surface __epoch rather than whichever file's
    // footer the reader samples first
    val t0 = s.read.option("mergeSchema", "true").parquet(s"$rdir/text_log")
    val t =
      if (t0.columns.contains("__epoch")) t0
      else t0.withColumn("__epoch", lit(null).cast("long"))
    if (IvfPqIndexStore.dupsPossible(s, rdir)) t.dropDuplicates("doc_id") else t
  }

  /** The saved media dispositions (kind, doc_id, stage, kept_id). */
  def mediaStage(s: SparkSession, dir: String): DataFrame = {
    val rdir = IvfPqIndexStore.resolveRead(s, dir)
    val t = s.read.parquet(s"$rdir/media")
    if (IvfPqIndexStore.dupsPossible(s, rdir)) t.dropDuplicates("kind", "doc_id")
    else t
  }

  /** [[TextOps.textKeeperMap]] read off the log: gate-passing rows joined
    * to the elected keeper of their fingerprint. The min-per-fp fold is a
    * no-op on batch-built sets (one keeper per fp by construction) and
    * canonicalizes the at-least-once restart corner where a sink whose
    * Bloom was not reseeded re-elected an already-owned fingerprint.
    */
  def textKeeperMapServed(s: SparkSession, dir: String): DataFrame = {
    val log = textLog(s, dir)
    val keepers = log.filter(col("keeper"))
      .groupBy("fp").agg(min("doc_id").as("keep_id"))
    log.filter(col("stage") =!= "gates")
      .select("doc_id", "fp").join(keepers, "fp")
      .select("doc_id", "keep_id")
  }

  /** The log's keeper fingerprints — the restart reconciliation source
    * for the accounting sink's history Bloom.
    */
  def keeperFingerprints(s: SparkSession, dir: String): DataFrame =
    textLog(s, dir).filter(col("keeper")).select("fp").distinct()

  /** COMMITTED keeper fingerprints — [[keeperFingerprints]] restricted to
    * rows whose epoch reached the ledger (plus the epoch-less batch-built
    * base), the exact filter state the next uncommitted epoch originally
    * ran against. This is the seed the accounting sink's restart must use
    * (r15 ADVICE): seeding from the full log would include a crashed
    * epoch's un-ledgered keeper rows, so its replay would label those
    * same documents `dedup` instead of `kept` — divergent rows in a
    * dup-exposed set. Seeding committed-only makes every replay recompute
    * byte-identical rows: a crash BEFORE the ledger write replays against
    * the pre-epoch filter (this seed), a crash AFTER it is skipped by the
    * replay guard and its keepers are committed, i.e. in this seed.
    *
    * `alsoCommittedIn`: additional leased stores (e.g. the dedup
    * manifest) that consume the SAME epochs downstream of the curation
    * append — an epoch counts as committed only when EVERY listed ledger
    * has it, so a crash between the curation append and a later store's
    * append replays the whole trigger against the pre-epoch filter and
    * the lagging store receives its rows. Returns None when the store has
    * no text_log yet (fresh attach — nothing to seed).
    */
  def committedKeeperFingerprints(s: SparkSession, dir: String,
      alsoCommittedIn: Seq[String] = Nil): Option[DataFrame] = {
    val rdir = IvfPqIndexStore.resolveRead(s, dir)
    val fs = new org.apache.hadoop.fs.Path(rdir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$rdir/text_log"))) None
    else {
      val ledgers = (rdir +: alsoCommittedIn.map(IvfPqIndexStore.resolveRead(s, _)))
        .map(IvfPqIndexStore.readLedger(s, _))
      // committed = ledgered EVERYWHERE; with any ledger absent entirely,
      // no streamed epoch is fully committed (a store that has never seen
      // an epoch has committed none of them)
      val committed = ledgers.map {
        case Some(led) => led.select(col("epoch")).distinct()
        case None => s.range(0).select(col("id").as("epoch"))
      }.reduce((a, b) => a.join(b, "epoch"))
      Some(textLogRaw(s, rdir)
        .join(broadcast(committed),
          col("__epoch") === col("epoch"), "left")
        .filter(col("__epoch").isNull || col("epoch").isNotNull)
        .filter(col("keeper")).select("fp").distinct())
    }
  }

  /** q128 SERVED from the saved tables — [[MultimodalOps.verdictAssembly]]
    * over [[textLog]] + [[mediaStage]] instead of two waterfall re-runs.
    */
  def multimodalVerdictServed(s: SparkSession, dir: String): DataFrame =
    MultimodalOps.verdictAssembly(
      textLog(s, dir).select("doc_id", "stage"), mediaStage(s, dir))

  /** q134 SERVED from the saved tables — [[MultimodalOps
    * .consistencyAssembly]] over the log-derived stage/keeper frames.
    */
  def keeperConsistencyServed(s: SparkSession, dir: String): DataFrame =
    MultimodalOps.consistencyAssembly(
      textLog(s, dir).select("doc_id", "stage"),
      textKeeperMapServed(s, dir), mediaStage(s, dir))

  /** Release the store's single-writer lease — crash recovery, same as
    * every leased store.
    */
  def releaseStoreLease(s: SparkSession, dir: String): Unit =
    IvfPqIndexStore.releaseLease(s, dir)
}
