package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.util.Cached

/** Streaming DOCUMENT intake (EXT, sibling of [[EventStreams]]): the three
  * admission stages a continuously-fed training corpus runs on arrival —
  * canonical-fingerprint dedup, quality gating, per-source accounting. All
  * three compose `readStream → transform → writeStream` and reuse the exact
  * column expressions of the batch operators (q33's fingerprint, q38's
  * quality score), so batch and streaming admission decisions are
  * bit-identical.
  *
  * Inputs use the `documents` schema (doc_id, text, lang, source, n_chars)
  * plus an `ingest_ts` TIMESTAMP column stamped by the ingest edge — the
  * watermark on it is what bounds the dedup state
  * (`dropDuplicatesWithinWatermark`: a fingerprint's state is evicted once
  * the watermark passes it, trading bounded state for possible
  * re-admission of duplicates that arrive further apart than the delay —
  * the standard streaming-dedup contract; run the batch q30/q33 pass
  * periodically to reconcile). Plain `dropDuplicates("fp")` would keep
  * every fingerprint ever seen: its state eviction only engages when the
  * event-time column is part of the dedup KEYS.
  */
object DocStreams {

  /** Streaming exact dedup on the canonical fingerprint (q33's expression,
    * shared via [[graft.operators.TextOps.fingerprintCol]]), state bounded
    * by the `ingest_ts` watermark.
    */
  def dedupDocs(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.operators.TextOps.fingerprintCol(col("text")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** q38's quality score (the shared
    * [[graft.operators.TextOps.qualityScoreCol]] expression) as an
    * admission filter: only docs scoring at least `minScore` pass. Pure
    * row-local projection — no state.
    */
  def qualityAdmit(docs: DataFrame, minScore: Double = 0.35): DataFrame =
    docs
      .withColumn("score", graft.operators.TextOps.qualityScoreCol(col("text")))
      .filter(col("score") >= minScore)

  /** Per-source admitted-document counts over tumbling windows of
    * `ingest_ts` — the intake dashboard aggregate. Watermarked, so window
    * state closes and the sink can run in append mode too.
    */
  def admissionCounts(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ingest_ts", watermark)
      .groupBy(window(col("ingest_ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_admitted"))
      .select(col("window.start").as("hour"), col("source"), col("n_admitted"))

  /** Streaming benchmark-decontamination gate: drop any arriving document
    * sharing a word-5-gram with the eval set, probed against a serialized
    * Bloom filter (build it once from the static eval corpus with
    * `df.stat.bloomFilter` + [[graft.functions.BloomFunctions.serialize]]).
    *
    * Deliberately CONSERVATIVE, the streaming half of batch q74's
    * exact-verify design: the probe has no false negatives, so nothing
    * contaminated is ever admitted; a clean document is over-dropped when
    * ANY of its grams false-positives, so the per-document over-drop rate
    * is ≈ n_grams × fpp, NOT fpp — size the build accordingly (a 100-gram
    * doc mix wants fpp ≤ 1e-5 for ≤0.1% over-drop; filter size only grows
    * linearly in -ln fpp, so tight fpp is cheap — 1e-6 is ~29 bits/key ≈
    * 3.5 MB per million grams). The alternative — exact verification —
    * needs a per-document aggregation over a stream-static join, i.e.
    * watermark-delayed emission and shuffle state; a gate that sits on the
    * ingest edge should be row-local and stateless. Run batch q74 over the
    * admitted corpus to reconcile, the same periodic-reconciliation
    * contract as [[dedupDocs]]'s watermark eviction.
    *
    * Row shape: gram transform + `exists` with the
    * [[graft.functions.BloomMightContain]] probe inside the lambda — zero
    * shuffle, zero state, short docs (<5 tokens, no grams) pass. `exists`
    * short-circuits on the first hit, so contaminated docs don't pay for
    * their remaining grams.
    */
  def decontaminationGate(docs: DataFrame, bloomBytes: Array[Byte]): DataFrame =
    // the when() guards the gram transform so sub-5-token docs never build
    // the descending sequence(1, negative) or index past the array end
    // under ANSI — the same load-bearing length gate as the batch shinglers
    bloomDropGate(docs, bloomBytes,
      staging = decontamStaging,
      guard = decontamGuard,
      probeArrayExpr = decontamProbeExpr,
      key = identity)

  /** The decontamination probe's staging/guard/gram pieces, factored to ONE
    * definition (r14): [[decontaminationGate]] filters on the hit and the
    * waterfall accounting ([[waterfallAccountingSink]]) LABELS on it — both
    * must evaluate the identical predicate or "dropped at decontam here" and
    * "decontam row there" drift apart.
    */
  private def decontamStaging: Seq[(String, org.apache.spark.sql.Column)] =
    Seq("__t" -> split(col("text"), " "))
  private def decontamGuard: org.apache.spark.sql.Column =
    size(col("__t")) >= 5
  private def decontamProbeExpr: String =
    graft.operators.DedupOps.gram5ArrayExpr("__t")

  /** The shared conservative-gate scaffold behind [[decontaminationGate]]
    * and [[nearDupGate]]: stage helper columns, probe each element of a
    * per-row key array against the serialized Bloom filter with
    * short-circuiting `exists`, DROP any row with a hit, pass rows whose
    * guard is false (too short to have keys). One definition so the two
    * gates' null/guard/drop semantics cannot drift.
    */
  private def bloomDropGate(docs: DataFrame, bloomBytes: Array[Byte],
      staging: Seq[(String, org.apache.spark.sql.Column)],
      guard: org.apache.spark.sql.Column, probeArrayExpr: String,
      key: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    probeDropGate(docs, staging, guard, probeArrayExpr,
      e => call_function("graft_bloom_might_contain", lit(bloomBytes), key(e)))

  /** The probe-agnostic core of [[bloomDropGate]] (r13): the single- and
    * SHARDED-filter gates share one staging/guard/filter/drop scaffold, so
    * their null/guard/drop semantics cannot drift — only the per-element
    * membership probe differs.
    */
  private def probeDropGate(docs: DataFrame,
      staging: Seq[(String, org.apache.spark.sql.Column)],
      guard: org.apache.spark.sql.Column, probeArrayExpr: String,
      probe: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val (staged, hit) = probeStaged(docs, staging, guard, probeArrayExpr, probe)
    staged.filter(!hit).drop(staging.map(_._1): _*)
  }

  /** The staging + hit PREDICATE underneath [[probeDropGate]] (r14): the
    * gates consume it as a filter, the waterfall accounting as a stage
    * label — one scaffold so drop and label semantics cannot drift.
    * Keyless rows (guard false) are never hits.
    */
  private def probeStaged(docs: DataFrame,
      staging: Seq[(String, org.apache.spark.sql.Column)],
      guard: org.apache.spark.sql.Column, probeArrayExpr: String,
      probe: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : (DataFrame, org.apache.spark.sql.Column) = {
    graft.functions.BloomFunctions.register(docs.sparkSession)
    val staged = staging.foldLeft(docs) { case (df, (n, c)) => df.withColumn(n, c) }
    (staged, when(guard, exists(expr(probeArrayExpr), probe)).otherwise(lit(false)))
  }

  /** Streaming NEAR-dup intake gate against the HISTORICAL corpus: drop
    * any arriving document sharing a winnow fingerprint (q92's
    * window-min selection — the same [[graft.operators.TextOps]]
    * expressions, one definition) with the already-ingested corpus,
    * probed against a Bloom filter built over the corpus's fingerprint
    * values. This is the incremental-intake dual of batch q92/q93:
    * winnowing guarantees any shared ≥ k+w-1 = 6-token run contributes a
    * common fingerprint, so a re-crawled or lightly-edited copy of an
    * existing document is caught at the ingest edge — where
    * [[dedupDocs]]'s canonical fingerprint only catches EXACT
    * (normalized) copies, and only within its watermark.
    *
    * The state story is the whole point: the historical corpus is
    * corpus-sized, but winnowing keeps ~2/(w+1) of its gram hashes and
    * the Bloom compresses those to ~3 bytes per fingerprint at fpp 1e-5
    * — vs an unjoinable corpus-scale state store. Ceiling: the
    * serialized filter is ONE JVM byte array, capped at ~2 GB, so one
    * filter holds up to ~7×10⁸ fingerprints at that fpp; a larger
    * history shards into several filters (e.g. by fingerprint modulus,
    * a gate per shard, union the drops). Same conservative contract as
    * [[decontaminationGate]]: no false negatives (nothing near-dup is
    * admitted); a clean doc over-drops at ≈ n_fps × fpp — size fpp
    * accordingly. Build the filter from
    * [[graft.operators.TextOps.winnowFpValues]] with
    * `df.stat.bloomFilter("fp", n, fpp)` — that frame's `fp` is already
    * the STRING rendering precisely because the membership expression's
    * contract is STRING keys (a filter built over a bigint column would
    * hash via putLong and NEVER match the UTF-8 probe — the silent
    * every-dup-admitted failure winnowFpValues' type rules out).
    * Row-local, stateless, zero shuffle; sub-3-token docs have no
    * fingerprints and pass (the length guard is load-bearing under ANSI,
    * as in the batch shinglers). Reconcile periodically with batch
    * q92/q93 over the admitted corpus, the [[decontaminationGate]]
    * contract.
    */
  def nearDupGate(docs: DataFrame, bloomBytes: Array[Byte]): DataFrame =
    bloomDropGate(docs, bloomBytes,
      staging = Seq(
        "__t" -> split(col("text"), " "),
        "__hs" -> expr(graft.operators.TextOps.winnowHashArrayExpr("__t"))),
      guard = size(col("__hs")) > 0,
      probeArrayExpr = graft.operators.TextOps.winnowSelectExpr("__hs"),
      key = _.cast("string"))

  /** Streaming MinHash-band near-dup gate against the HISTORICAL corpus
    * (r10 verdict #7 — q35's unit at the ingest edge, completing the
    * batch/stream parity story the winnow gate started): drop any arriving
    * document whose LSH signature shares a BAND with an already-ingested
    * document, probed against a Bloom filter built over the corpus's band
    * keys. Where [[nearDupGate]] (winnowing) catches shared ≥6-token RUNS
    * — verbatim passage reuse — this gate catches high set-level Jaccard
    * under reordering/interleaving, exactly the q35-vs-q71 split in batch.
    *
    * One-definition contract: shingles, lanes, and band keys are the batch
    * chain's own expressions ([[graft.operators.DedupOps.shingle3ArrayExpr]],
    * `graft_minhash_lanes`, [[graft.operators.DedupOps.minhashBandArrayExpr]]
    * with the band index folded into the key, as the batch bucket join
    * keys on (bi, bk)) — so "dropped here" ≡ "would be a q35 candidate
    * pair with some historical doc". Build the filter from
    * [[graft.operators.DedupOps.minhashBandValues]] with
    * `df.stat.bloomFilter("band", n, fpp)`; `band` is already the STRING
    * key this gate probes (the winnowFpValues type lesson). State: 4 band
    * keys per historical doc × ~3 bytes at fpp 1e-5 — a billion-doc
    * history fits one ~12 GB shard set (shard by band modulus past the
    * 2 GB single-array ceiling, as for [[nearDupGate]]). Conservative
    * contract as always: no false negatives; over-drop ≈ 4 × fpp per
    * clean doc. Row-local, stateless, zero shuffle; sub-3-token docs have
    * no signature and pass. Reconcile with batch q35 over the admitted
    * corpus.
    */
  def minhashBandGate(docs: DataFrame, bloomBytes: Array[Byte]): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    bloomDropGate(docs, bloomBytes,
      staging = Seq(
        "__t" -> split(col("text"), " "),
        "__sh" -> expr(graft.operators.DedupOps.shingle3ArrayExpr("__t")),
        "__lanes" -> expr("graft_minhash_lanes(__sh)")),
      guard = col("__lanes").isNotNull,
      probeArrayExpr = graft.operators.DedupOps.minhashBandArrayExpr("__lanes"),
      key = identity)
  }

  /** Build N Bloom filter SHARDS over a string-key frame, sharded by
    * `pmod(xxhash64(key), n)` — the executable form of the escape every
    * gate scaladoc cites for histories past the ~2 GB single-array
    * ceiling (one serialized filter is one JVM byte array; a billion-doc
    * history's band keys need several). Each shard is built by the same
    * `stat.bloomFilter` the single-filter gates use, over only its
    * residue class, so per-shard fpp and sizing math are unchanged.
    * Build cost: n aggregation jobs over the key frame (run them on a
    * schedule; at 100 TB each is a linear pass over an already-linear
    * key table).
    */
  def bloomShards(keys: DataFrame, keyCol: String, nShards: Int,
      expectedPerShard: Long, fpp: Double): Seq[Array[Byte]] =
    (0 until nShards).map { i =>
      graft.functions.BloomFunctions.serialize(
        keys.filter(pmod(xxhash64(col(keyCol)), lit(nShards)) === i)
          .stat.bloomFilter(keyCol, math.max(expectedPerShard, 1L), fpp))
    }

  /** Per-key sharded membership probe: key k consults ONLY shard
    * `pmod(xxhash64(k), n)`. Expressed as a short-circuit OR of
    * (selector AND might_contain) branches because the native
    * `graft_bloom_might_contain` requires its filter argument FOLDABLE
    * (each branch carries one constant shard literal; a per-row
    * `element_at(array(shards), idx)` filter argument is rejected at
    * analysis by design). A branch's filter only deserializes in tasks
    * that reach it. Semantics match the single-filter probe exactly:
    * the shard holding k's residue class is the only one that ever saw
    * k at build time.
    */
  private def shardedProbe(shards: Seq[Array[Byte]])(
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shards.zipWithIndex.map { case (bytes, i) =>
      (pmod(xxhash64(key), lit(shards.size)) === i) &&
        call_function("graft_bloom_might_contain", lit(bytes), key)
    }.reduce(_ || _)

  /** [[minhashBandGate]] against a SHARDED historical filter set (built
    * with [[bloomShards]] over minhashBandValues' `band` column) — the
    * same one-definition contract and conservative no-false-negative
    * semantics, with state bounded per shard instead of per history.
    */
  def minhashBandGateSharded(docs: DataFrame,
      shards: Seq[Array[Byte]]): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    probeDropGate(docs,
      staging = Seq(
        "__t" -> split(col("text"), " "),
        "__sh" -> expr(graft.operators.DedupOps.shingle3ArrayExpr("__t")),
        "__lanes" -> expr("graft_minhash_lanes(__sh)")),
      guard = col("__lanes").isNotNull,
      probeArrayExpr = graft.operators.DedupOps.minhashBandArrayExpr("__lanes"),
      probe = shardedProbe(shards))
  }

  /** Streaming PERCEPTUAL near-dup gate for media intake (batch
    * q105/q106's unit at the ingest edge — the [[minhashBandGate]]
    * discipline applied to the binary modalities, the r12 verdict's #5):
    * drop an arriving asset whose 56-bit perceptual hash (dHash / energy
    * contour, computed row-locally after decode — rows carry a `dhash`
    * column) shares a 14-bit BAND with an already-ingested asset, probed
    * against a Bloom filter built over the historical corpus's band keys.
    *
    * One-definition contract: the band formula and the string key
    * rendering are [[graft.operators.MultimodalOps.hammingBandStructsExpr]]
    * / `hammingBandArrayExpr` — the exact expressions the batch pair
    * stage buckets on — so "dropped here" ≡ "would be a q105/q106
    * CANDIDATE pair with some historical asset" (candidate level: the
    * batch chain then verifies Hamming ≤ 3; the gate is deliberately the
    * conservative candidate test, exactly as the MinHash gate sits at
    * q35 candidacy). Pigeonhole gives the recall guarantee teeth: any
    * true near-dup at Hamming ≤ 3 shares ≥ 1 intact band, so nothing
    * near-dup is admitted. Build the filter from
    * [[graft.operators.MultimodalOps.hammingBandValues]] with
    * `df.stat.bloomFilter("band", n, fpp)`. State: 4 band keys per
    * historical asset × ~3 bytes at fpp 1e-5. Decode failures
    * (dhash = −1) carry no perceptual information and PASS — quarantine
    * is the decode stage's job, not the dedup gate's. Row-local,
    * stateless, zero shuffle; over-drop ≈ 4 × fpp per clean asset.
    * Reconcile with batch q105/q106 over the admitted corpus.
    */
  def perceptualNearDupGate(media: DataFrame, bloomBytes: Array[Byte]): DataFrame =
    bloomDropGate(media, bloomBytes,
      staging = Seq("__bands" ->
        expr(graft.operators.MultimodalOps.hammingBandArrayExpr("dhash"))),
      guard = col("dhash") =!= lit(-1L),
      probeArrayExpr = "__bands",
      key = identity)

  /** Streaming SEMANTIC decontamination gate (batch q119's unit at the
    * ingest edge, completing the decontamination parity story the way
    * [[minhashBandGate]] completed near-dup's): drop an arriving row
    * whose embedding reaches cosine `bar` against ANY eval probe — the
    * paraphrased/translated contamination class whose surface 5-grams
    * the [[decontaminationGate]] cannot see. Rows carry an `embedding`
    * array column (pipelines embed on arrival, or upstream attaches it).
    *
    * Probes are driver-side constants, not a stream-static join: eval
    * suites are fixed-size by nature, so |probes| literal (vector, norm)
    * structs ride the plan and each row pays |probes| row-local dots
    * through a short-circuiting `exists` — zero state, zero shuffle.
    * Collect them with [[graft.operators.SimilarityOps.collectProbes]],
    * which computes (e, nrm) with EXACTLY q119's expressions; the gate
    * then evaluates q119's own cosine — same `graft_dot`, same 6-decimal
    * round before the bar — so given the same probes and bar, a drop
    * here ⟺ batch q119 flags `contaminated=1` (spec-pinned parity, the
    * gopherAdmit/nearDupGate one-definition contract).
    *
    * Pass semantics match the other gates' keyless-rows-pass convention:
    * a row with a null/empty embedding has no semantic key and passes
    * (route such rows to the n-gram gates). Zero norms are guarded
    * EXPLICITLY (`__nrm > 0`, and zero-norm probes are dropped at entry)
    * rather than left to float semantics: under Spark's ANSI default a
    * 0/0 cosine is NaN and Spark ORDERS NaN above every double, so an
    * unguarded `NaN >= bar` would silently drop the row — the exact
    * inversion of the convention. Unlike the Bloom gates this probe is
    * EXACT — no false positives, no over-drop to size for.
    */
  def semanticDecontamGate(rows: DataFrame,
      probes: Seq[(Array[Double], Double)], bar: Double = 0.45): DataFrame = {
    graft.functions.VectorFunctions.register(rows.sparkSession)
    val live = probes.filter(_._2 > 0)
    if (live.isEmpty) return rows // no probes → nothing to screen against
    val probeLit = array(live.map { case (pe, pn) =>
      struct(typedlit(pe.toSeq).as("pe"), lit(pn).as("pn")) }: _*)
    rows
      .withColumn("__e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("__nrm", sqrt(call_function("graft_dot", col("__e"), col("__e"))))
      .filter(!when(
        col("__e").isNotNull && size(col("__e")) > 0 && col("__nrm") > 0,
        exists(probeLit, p =>
          round(call_function("graft_dot", col("__e"), p.getField("pe"))
            / (col("__nrm") * p.getField("pn")), 6) >= bar))
        .otherwise(lit(false)))
      .drop("__e", "__nrm")
  }

  /** The full intake pipeline: quality gate → dedup. (Counts attach as a
    * separate sink off the same deduped frame.)
    *
    * The gate runs FIRST so only admissible documents claim a fingerprint's
    * dedup state: with dedup first, a low-quality document consumes its
    * fingerprint within the watermark and is then rejected, and a later
    * admissible variant with the same canonical fingerprint (punctuation
    * differences change the score but not the fingerprint) is dropped as a
    * duplicate — neither copy admitted.
    */
  def intake(docs: DataFrame, watermark: String = "1 hour",
      minScore: Double = 0.35): DataFrame =
    dedupDocs(qualityAdmit(docs, minScore), watermark)

  /** Gopher rule-based admission (the streaming dual of batch q77): only
    * documents passing all four gates — word count, mean word length,
    * alpha-word share, stopword count — are admitted. The predicate IS
    * [[graft.operators.TextOps.gopherKeepCol]], the same Column expression
    * batch q77 evaluates, so a document admitted here is exactly a
    * document `gopherRules` marks keep=1 (spec-pinned). Pure row-local
    * projection — no state, no shuffle; like [[qualityAdmit]] it sits
    * before [[dedupDocs]] so a rejected doc never claims dedup state.
    */
  def gopherAdmit(docs: DataFrame): DataFrame =
    docs.filter(graft.operators.TextOps.gopherKeepCol(col("text")))

  /** One micro-batch of the COMPOSED curation waterfall, labeled with
    * q113's stage ladder (gates → dedup → decontam → quality → kept) —
    * the per-trigger unit behind [[waterfallAccountingSink]], seam-exposed
    * for the parity spec. Every stage is the batch operator's own shared
    * expression ([[graft.operators.TextOps.gopherKeepCol]] /
    * `fingerprintCol` / `qualityScoreCol`, the decontamination gate's
    * factored probe pieces), so a label here can only differ from batch
    * q113's where the streaming setting itself differs:
    *
    *   - `dedup` against HISTORY is a Bloom probe over previously elected
    *     keepers' fingerprints (conservative, the gate family's contract —
    *     a false positive over-drops, never under-drops; size fpp per the
    *     [[decontaminationGate]] math);
    *   - `dedup` WITHIN the trigger is q113's exact min-doc_id election
    *     restricted to this batch's history-new gate-passers — with
    *     arrivals ordered by doc_id across triggers (a replayed corpus),
    *     the two-level election reproduces the batch keeper exactly, which
    *     is what the parity spec pins.
    *
    * Output: one row per arriving doc with (doc_id, fp, stage, keeper);
    * `keeper` marks this trigger's newly elected fingerprint owners — the
    * rows whose fps enter the history filter.
    */
  private[streaming] def waterfallStageOf(batch: DataFrame,
      evalBloom: Array[Byte], histBloom: Array[Byte],
      qualityBar: Double): DataFrame = {
    val enriched = batch
      .withColumn("__gate", graft.operators.TextOps.gopherKeepCol(col("text")))
      .withColumn("__fp", graft.operators.TextOps.fingerprintCol(col("text")))
      .withColumn("__q", graft.operators.TextOps.qualityScoreCol(col("text")))
    val (staged, contamHit) = probeStaged(enriched,
      decontamStaging, decontamGuard, decontamProbeExpr,
      e => call_function("graft_bloom_might_contain", lit(evalBloom), e))
    val histHit =
      call_function("graft_bloom_might_contain", lit(histBloom), col("__fp"))
    val keeper = staged.filter(col("__gate") && !histHit)
      .groupBy("__fp").agg(min("doc_id").as("__keep_id"))
    staged.join(keeper, Seq("__fp"), "left")
      .select(col("doc_id"), col("__fp").as("fp"),
        when(!col("__gate"), "gates")
          .when(histHit || col("doc_id") =!= col("__keep_id"), "dedup")
          .when(contamHit, "decontam")
          .when(col("__q") < qualityBar, "quality")
          .otherwise("kept").as("stage"),
        (col("__gate") && !histHit && col("doc_id") === col("__keep_id"))
          .as("keeper"))
  }

  /** STREAMING per-stage drop ACCOUNTING for the composed curation
    * waterfall (r13 verdict #3): the admission gates exist individually,
    * but a 24/7 intake dashboard needs "of this trigger's N arrivals, X
    * fell at gates, Y at dedup, Z at decontam, W at quality, K admitted"
    * — batch q113's report, emitted per trigger at the ingest edge.
    * `onCounts` receives one small frame per trigger: (stage, n_docs,
    * dropped, passed), plus the epoch id.
    *
    * State story: ONE driver-held Bloom filter over elected keepers'
    * fingerprints (bounded bytes — the [[nearDupGate]] sizing math; shard
    * past the 2 GB ceiling with [[bloomShards]]' discipline) plus one
    * keeper-fp collect per trigger, bounded by the trigger's own
    * admission control — never corpus-sized. The serialized filter rides
    * the plan as a foldable literal (the gate family's contract) and is
    * re-serialized ONLY on triggers that elected new keepers; size
    * `expectedDocs` to the history the way the static gates size their
    * builds. The per-trigger labeling is row-local except q113's own
    * keeper-election exchange, restricted to the batch.
    *
    * Delivery contract: `onCounts` fires per foreachBatch invocation,
    * which is AT-LEAST-ONCE — after a crash, Spark re-fires the last
    * uncommitted epoch on restart. The epoch id is passed precisely so a
    * consumer accumulating totals dedups on it (idempotent
    * overwrite-by-epoch, or skip epochs already recorded — the spec
    * demonstrates the discipline); the Bloom update is naturally
    * idempotent (re-putting a fingerprint is a no-op). Restart note: the
    * filter lives with the query; with `persistTo` set the attach SEEDS
    * it from the store's committed keeper fingerprints automatically
    * (see below), and a persistTo-less deployment passes `seed` —
    * built from the admitted corpus's fingerprints, the
    * batch-reconciliation contract every gate documents.
    *
    * `persistTo` (r15, the r14 verdict's #3): a [[CurationStore]]
    * directory to MAINTAIN with each trigger's staged rows (doc_id, fp,
    * stage, keeper) — the accounting sink becomes the streaming writer of
    * the materialized stage table q128/q134 serve from. Appends go
    * through the shared leased epoch-idempotence device (lease claimed at
    * attach, replay-proof ledger LAST, dup exposure stamped precisely),
    * and land BEFORE the Bloom update. At attach the filter is SEEDED
    * from the store's COMMITTED keeper fingerprints
    * ([[CurationStore.committedKeeperFingerprints]] — r15 ADVICE: the
    * filter used to start empty, so a restarted sink re-admitted every
    * historical duplicate), which closes both crash windows: a crash
    * between append and ledger replays the epoch against exactly the
    * pre-epoch filter (the crashed rows are un-ledgered and excluded from
    * the seed), recomputing byte-identical rows — duplicate storage only,
    * which the conditional-dedup readers collapse deterministically; a
    * crash after the ledger is skipped by the replay guard and its
    * keepers arrive via the seed. `seed`: an optional explicit
    * fingerprint frame (one string column `fp`) merged in addition —
    * the reconciliation hook for persistTo-less deployments, whose
    * restart contract otherwise remains rebuild-from-the-admitted-corpus.
    */
  def waterfallAccountingSink(docs: DataFrame, evalBloom: Array[Byte],
      expectedDocs: Long = 1L << 20, fpp: Double = 1e-6,
      qualityBar: Double = 0.25, persistTo: Option[String] = None,
      seed: Option[DataFrame] = None)(
      onCounts: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val st = new WaterfallState(expectedDocs, fpp)
    val storeToken = persistTo.map { dir =>
      val t = java.util.UUID.randomUUID().toString
      graft.operators.IvfPqIndexStore.acquireLease(
        docs.sparkSession, dir, t, CurationStore.What)
      t
    }
    persistTo.foreach(dir =>
      CurationStore.committedKeeperFingerprints(docs.sparkSession, dir)
        .foreach(st.seedFrom))
    seed.foreach(st.seedFrom)
    docs.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      accountTrigger(batch, epoch, evalBloom, st, qualityBar,
        persistTo, storeToken, onCounts)
    }
  }

  /** The accounting sink's driver-held dedup state: one Bloom filter over
    * elected keepers' fingerprints, re-serialized only on change.
    */
  private[streaming] final class WaterfallState(expectedDocs: Long, fpp: Double) {
    private val hist = org.apache.spark.util.sketch.BloomFilter.create(
      math.max(expectedDocs, 1L), fpp)
    var histBytes: Array[Byte] = graft.functions.BloomFunctions.serialize(hist)
    def absorb(newKeepers: Array[org.apache.spark.sql.Row]): Unit =
      if (newKeepers.nonEmpty) {
        newKeepers.foreach(r => hist.putString(r.getString(0)))
        histBytes = graft.functions.BloomFunctions.serialize(hist)
      }
    /** Restart reseed: merge a distributed Bloom build over a string `fp`
      * frame into the state. Built with the SAME (expectedDocs, fpp) so
      * the bit geometry is merge-compatible, and Bloom bits are a set
      * union — insertion order and build side (driver putString vs the
      * distributed aggregate) produce identical bits for the same key
      * set, which is what makes a replayed epoch's labels byte-identical
      * to its crashed attempt's. No collect: the build is one aggregation
      * over the (already linear) fingerprint frame.
      */
    def seedFrom(fps: org.apache.spark.sql.DataFrame): Unit = {
      hist.mergeInPlace(
        fps.stat.bloomFilter("fp", math.max(expectedDocs, 1L), fpp))
      histBytes = graft.functions.BloomFunctions.serialize(hist)
    }
  }

  /** ONE trigger of the accounting waterfall — the shared per-epoch unit
    * behind [[waterfallAccountingSink]] and [[IntakeTopology.textIntake]]:
    * label the batch, emit counts, persist the staged rows to the
    * curation store (when attached), hand the persisted staged frame to
    * `onStaged` (the topology's manifest hookup — it runs while the frame
    * is cached and BEFORE the Bloom update, so a crash anywhere in the
    * trigger replays against the unchanged filter and recomputes
    * identical rows), then let the new keepers claim dedup state.
    */
  private[streaming] def accountTrigger(batch: DataFrame, epoch: Long,
      evalBloom: Array[Byte], st: WaterfallState, qualityBar: Double,
      persistTo: Option[String], storeToken: Option[String],
      onCounts: (DataFrame, Long) => Unit,
      onStaged: (DataFrame, Long) => Unit = (_, _) => ()): Unit = Cached.scope { c =>
    val staged = c.hold(waterfallStageOf(batch, evalBloom, st.histBytes, qualityBar))
    onCounts(staged.groupBy("stage")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("stage"), col("n_docs"),
        when(col("stage") =!= "kept", col("n_docs")).otherwise(0L)
          .as("dropped"),
        when(col("stage") === "kept", col("n_docs")).otherwise(0L)
          .as("passed")), epoch)
    persistTo.foreach(dir =>
      CurationStore.appendEpoch(staged, epoch, dir, storeToken): Unit)
    onStaged(staged, epoch)
    // the new keepers' fingerprints claim dedup state — AFTER the
    // counts so a failure emits nothing half-updated, and AFTER every
    // store append (see the crash-window note above); re-serialize
    // only when the filter actually changed (a ~MB-scale driver copy
    // per trigger is pure waste on keeper-less triggers)
    st.absorb(staged.filter(col("keeper")).select("fp").collect())
  }
}
