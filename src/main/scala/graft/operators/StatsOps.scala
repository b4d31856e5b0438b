package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Cached
import graft.util.Tables._

/** Distribution statistics and sampling for a training-data pipeline:
  * grouped exact percentiles (data profiling) and deterministic stratified
  * sampling (per-source quota downsampling). Both pure Catalyst — no UDFs.
  */
object StatsOps {

  /** Per-stratum keep thresholds for q47, as 8-hex-digit string bounds:
    * lowercase-hex string comparison on the md5 prefix is identical to the
    * numeric comparison of the first 32 hash bits, and every engine renders
    * md5 the same way — so the SAMPLE ITSELF is bit-identical across
    * engines (Spark rand()/TABLESAMPLE never is). '40000000' keeps 25% of
    * the uniform space, 'c0000000' keeps 75%.
    */
  private val evenRate = "40000000"
  private val oddRate = "c0000000"

  /** q58 split thresholds on the first 32 md5 bits as 8-hex-digit bounds
    * (same engine-exact mechanism as q47's strata rates): train gets 90%
    * of the hash space, validation the next 5%, test the rest.
    */
  private[operators] val trainBound = "e6666666" // 0.9 * 2^32
  private[operators] val valBound   = "f3333333" // 0.95 * 2^32

  /** q57 training-sequence capacity in tokens. The packer is CUMULATIVE
    * BOUNDARY binning, not per-bin greedy reset: a document's bin is the
    * capacity-quotient of the tokens packed before it in its source, so
    * bins are aligned to fixed 512-token boundaries of the source's token
    * stream. Consequences a consumer must expect: a document longer than
    * the capacity spills across boundaries (later docs land in partially
    * consumed bins rather than a fresh one), and bin ids can SKIP after
    * such a doc (the boundaries it crossed get no rows). This is the
    * prefix-sum-expressible variant — a true greedy reset is a sequential
    * fold that no window/prefix computation distributes — and it is what
    * the oracle and StatsOpsSpec's recompute pin.
    */
  val packCapacity = 512

  /** q63's operator body, reusable over any (doc_id, source, …) frame:
    * keep rate per source = sqrt(min_count / count). At the sf fixtures
    * every source is the same size (all rates 1.0 — the oracle pins the
    * degenerate identity); StatsOpsSpec drives the sqrt-shrink path on a
    * skewed synthetic corpus.
    */
  /** q57's operator body with the hot-source escape exposed: greedy-fill
    * documents into fixed token-capacity bins via a per-source window
    * cumsum. Packing is inherently order-dependent, so parallelism is
    * bounded by the partition-key cardinality; `shards > 1` composes the
    * key — pack per `(source, shard)` with `shard =
    * xxhash64(doc_id) mod shards` — which changes no packing math, only
    * how the key space splits: each shard runs the same cumulative-
    * boundary binning over its own doc_id-ordered slice, and local bins
    * map to globally distinct ids as `bin * shards + shard`. A source too
    * hot for one task (the 100 TB case: one crawl dominating the corpus)
    * picks shards ≈ its size ratio and the window stage re-levels;
    * ScaleSmoke's hot-source section measures exactly this (80%-hot
    * corpus: unsharded straggler vs sharded under the bar). `shards = 1`
    * is bit-identical to the oracle-pinned q57 output.
    */
  def packSequences(docs: DataFrame, shards: Int = 1): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
    docs
      .withColumn("shard",
        if (shards == 1) lit(0L) else pmod(xxhash64(col("doc_id")), lit(shards.toLong)))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (floor((col("cum") - col("n_tokens")) / lit(packCapacity.toDouble))
          .cast("long") * lit(shards.toLong) + col("shard")).as("bin_id"))
  }

  /** q83 per-source token budget. 800 keeps roughly the top half of each
    * sf0.01 source (each holds 1.1–1.6k tokens), so the selection boundary
    * is exercised in every stratum.
    */
  val selectBudget = 800L

  /** q83's operator body: budget-constrained data selection — per source,
    * admit documents in descending priority order until the token budget
    * fills (the "select the best N tokens per domain" step every
    * curated-mixture recipe runs, e.g. quality-classifier selection).
    * Priority is the document's alpha-word count (an INTEGER, so no float
    * threshold can reorder ties across engines; ties break by doc_id).
    * A document is admitted iff the budget is not yet exhausted BEFORE it
    * (`cum - n_tokens < budget`), so one over-long top document cannot
    * blank a source and the fill may overshoot by at most one document —
    * the greedy knapsack convention.
    *
    * Scale shape: identical to [[packSequences]] — one shuffle by source,
    * a per-source window cumsum, row-local admit — with the same hot-source
    * escape: `shards > 1` composes the window key with
    * `xxhash64(doc_id) mod shards` and splits the budget evenly across
    * shards (`budget div shards` each). Because doc→shard is a uniform
    * hash INDEPENDENT of priority, each shard sees an iid sample of the
    * priority distribution, so the union of per-shard greedy fills
    * converges on the global fill as shards' budgets stay large relative
    * to document size — the admitted sets differ only near the selection
    * boundary (the same contract as q78's approx-cutoff escape: exact
    * ranking is a single sort partition per source; the escape trades
    * boundary exactness for parallelism). ScaleSmoke's hot-source section
    * measures both. `shards = 1` is bit-identical to the oracle-pinned
    * q83 output.
    */
  def tokenBudgetSelect(docs: DataFrame, budget: Long = selectBudget,
      shards: Int = 1): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source", "shard").orderBy(desc("n_alpha"), col("doc_id"))
    val shardBudget = budget / shards
    docs
      .withColumn("shard",
        if (shards == 1) lit(0L) else pmod(xxhash64(col("doc_id")), lit(shards.toLong)))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_alpha",
        expr("size(filter(toks, t -> t rlike '^[a-z]+$'))").cast("long"))
      .withColumn("cum", sum("n_tokens").over(w))
      .filter(col("cum") - col("n_tokens") < shardBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_alpha"), col("cum"))
  }

  /** q85's operator body: epoch/repeat assignment for mixture upsampling —
    * every source is brought up to the LARGEST source's token count by
    * repetition (the standard oversampling move when a high-quality source
    * is small): `full = tgt div total` whole epochs for every document,
    * plus one partial epoch holding a deterministic md5-threshold sample
    * at the remainder rate. All arithmetic that crosses the engine
    * boundary is integer (div, multiply) until the single correctly-
    * rounded IEEE divide that feeds q63's floor·2³² hex-bound device, so
    * the partial-epoch membership is bit-identical across engines. Output
    * one row per (doc, epoch): downstream shuffles/packs epochs like any
    * other corpus.
    *
    * Scale shape: one linear per-source token-count aggregation, a
    * ~source-cardinality targets table broadcast back, then a row-local
    * `explode(sequence(...))` — no corpus shuffle, output inflates by the
    * mixture's mean repeat factor exactly as the training set does.
    */
  def epochAssign(docs: DataFrame): DataFrame = {
    val totals = docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("source").agg(sum("n_tokens").as("total"))
    val tgt = totals.agg(max("total").as("tgt"))
    val plan = totals.crossJoin(broadcast(tgt))
      .withColumn("full", expr("tgt div total"))
      .withColumn("rem_rate", (col("tgt") - col("full") * col("total")) /
        col("total").cast("double"))
      .withColumn("bound", lower(lpad(hex(
        floor(col("rem_rate") * lit(4294967296.0)).cast("long")), 8, "0")))
      .select("source", "full", "bound")
    docs.join(broadcast(plan), "source")
      .withColumn("h", substring(md5(concat(lit("epoch:"),
        col("doc_id").cast("string"))), 1, 8))
      .withColumn("n_epochs",
        col("full") + when(col("h") < col("bound"), 1L).otherwise(0L))
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(0L, n_epochs - 1L)")).as("epoch"))
  }

  /** q100's operator body: the training-mix PLAN table — temperature-
    * scaled source weights (p_s ∝ n_s^α at α = 1/2, the standard
    * multilingual/multi-corpus smoothing that keeps big sources from
    * drowning small ones) and the token allocation of a fixed budget
    * under them. Complements q63 (which SAMPLES documents at sqrt rates)
    * by emitting the per-source plan a scheduler consumes.
    *
    * Cross-engine exactness: the weight is the INTEGER isqrt
    * floor(sqrt(n_tokens)) — IEEE-correctly-rounded sqrt is identical in
    * both engines, floor kills the ulp — the mix fraction uses the house
    * half-up micro device ((2a+b) div (2b)), and the budget split is
    * integer floor-div. Scale shape: one combiner groupBy(source) over
    * the corpus, then broadcast total over the tiny source dimension —
    * nothing else shuffles.
    */
  def mixWeights(docs: DataFrame, budgetTokens: Long = 1000000L): DataFrame = {
    val per = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = per.agg(sum("weight").as("tot_w"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        expr("(2 * weight * 1000000 + tot_w) div (2 * tot_w)")
          .cast("long").as("mix_micro"),
        expr(s"($budgetTokens * weight) div tot_w")
          .cast("long").as("planned_tokens"))
      .orderBy("source")
  }

  def sourceMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
    val minCnt = counts.agg(min("cnt").as("min_cnt"))
    val rates = counts.crossJoin(broadcast(minCnt))
      .withColumn("rate", sqrt(col("min_cnt") / col("cnt")))
      .withColumn("bound", lower(lpad(hex(
        floor(col("rate") * lit(4294967296.0)).cast("long")), 8, "0")))
      .select("source", "rate", "bound")
    docs.join(broadcast(rates), "source")
      .withColumn("h", substring(md5(concat(lit("mix:"),
        col("doc_id").cast("string"))), 1, 8))
      .filter(col("rate") >= 1.0 || col("h") < col("bound"))
      .select(col("doc_id"), col("source"))
  }

  /** q103's per-row sample hash: first 32 md5 bits of the salted
    * (source, doc_id) key as a bigint — numeric so the prefilter can do
    * threshold arithmetic on it. One Scala rendering, mirrored in the
    * oracle.
    */
  private def kSampleHash(docs: DataFrame): DataFrame =
    docs.withColumn("hv", expr(
      """cast(conv(substring(md5(concat('ksample:', source, ':',
           cast(doc_id as string))), 1, 8), 16, 10) as bigint)"""))

  /** q103: EXACT k-per-stratum sampling — the fixed-budget companion to
    * q47's fraction sampler (an eval set of exactly k docs per source,
    * reproducible across engines and stable under corpus growth for the
    * retained prefix: the sample is the k smallest salted hashes, so a
    * doc's membership flips only when k new smaller hashes arrive).
    * Plain path: `row_number()` over (hash, doc_id) per stratum — one
    * shuffle by source, sort bounded per stratum.
    */
  def topKPerStratum(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("hv"), col("doc_id"))
    kSampleHash(docs)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** q103's 100 TB path: a hot stratum's full row set sorting in ONE
    * window task is the scale hazard, so prefilter each stratum to rows
    * with hv below ~4× the EXPECTED k-th smallest hash (hashes are
    * uniform in [0, 2³²), so the k-th smallest concentrates near
    * k/n · 2³² — the window then sorts ~4k rows per stratum instead of
    * n). Exactness is UNCONDITIONAL, not probabilistic: any stratum
    * whose survivor count lands under k (possible only in the extreme
    * tail of the hash distribution) falls back to its full row set, so
    * the output is always identical to [[topKPerStratum]] — the spec
    * pins set equality, and the q78/q57 exact-plus-scale-path discipline
    * applies.
    */
  def topKPerStratumPrefiltered(docs: DataFrame, k: Int): DataFrame = Cached { c =>
    import org.apache.spark.sql.expressions.Window
    val h = c.hold(kSampleHash(docs))
    val space = 4294967296L // 2^32
    val thr = h.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("thr", least(lit(space),
        (lit(4L) * k * lit(space)) / greatest(col("n"), lit(1L))))
      .select("source", "thr")
    val pre = h.join(broadcast(thr), "source").filter(col("hv") <= col("thr"))
    // strata whose prefilter under-shot k rows re-enter whole
    val short = pre.groupBy("source").agg(count(lit(1)).as("n_surv"))
      .filter(col("n_surv") < k).select("source")
    val input = pre.join(broadcast(short), Seq("source"), "left_anti")
      .select("doc_id", "source", "hv")
      .unionByName(h.join(broadcast(short), "source")
        .select("doc_id", "source", "hv"))
    val w = Window.partitionBy("source").orderBy(col("hv"), col("doc_id"))
    input
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** q103's query-bound sample size. */
  val kPerStratum = 64

  /** q110's operator body: pairwise Jensen-Shannon divergence between
    * per-source unigram DISTRIBUTIONS — the distributional complement of
    * q90's n-gram OVERLAP matrix (q90 answers "do these sources share
    * literal text", this answers "do they write the same way even when
    * the text differs"), the signal mix planners (q100's temperature
    * weights, DoReMi-class reweighting) read to decide which sources are
    * redundant vs complementary. JSD = ½KL(p‖m) + ½KL(q‖m) with
    * m = (p+q)/2, log base 2 — symmetric, bounded [0, 1], defined even
    * on disjoint vocabularies (unlike raw KL, which this corpus would
    * make infinite).
    *
    * Engine-exactness: the per-word JS contribution
    * ½·p·log2(p/m) + ½·q·log2(q/m) is NON-NEGATIVE per word (log-sum
    * inequality), so each term integerizes to nano-bit longs (round(·,9)
    * — finer than the micro-bit device because per-word terms shrink as
    * vocabulary grows) and the sum is exact integer arithmetic in any
    * partition order — a naive sum(double) would be run-to-run
    * nondeterministic; the finish is the half-up device at 6 decimals.
    *
    * Scale shape: ONE corpus explode into (source, word) counts
    * (combiner-friendly); everything after is vocab-sized. The per-word
    * source→(cnt, total) map is one more vocab-keyed agg (the q90
    * collect-the-small-dimension device — sources are a human-sized dim),
    * the pair dim is |sources|² rows and BROADCAST, and the final agg is
    * vocab × pairs → pairs rows with map-side partials. The corpus never
    * shuffles on anything but (source, word); no self-join of anything
    * corpus-sized. Holds at 100 TB for any human-curated source count;
    * a thousand-source lake should pre-bucket sources before pairing
    * (the output itself is source²-sized there — intrinsic to a
    * pairwise matrix, not to this plan).
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    // widened at entry (r17, guide §2.5): the corpus explode + map-side
    // count is the expensive front and the driver fixture is a single
    // row group — one task otherwise. Order-safe: the per-word counts are
    // integers and the JS sum is the integerized nano-bit device (sums of
    // longs are partition-order-exact); at lake scale the widen is a
    // stats+split-count-guarded no-op.
    val cnt = graft.util.Tables.widenSmall(docs)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    val ns = cnt.groupBy("source").agg(sum("cnt").as("n_s"))
    val perWord = cnt.join(broadcast(ns), "source")
      .groupBy("w")
      .agg(map_from_entries(
        collect_list(struct(col("source"), struct(col("cnt"), col("n_s"))))).as("m"))
    val pairs = ns.select(col("source")).as("a")
      .join(ns.select(col("source")).as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"))
    perWord.crossJoin(broadcast(pairs))
      .withColumn("e1", element_at(col("m"), col("s1")))
      .withColumn("e2", element_at(col("m"), col("s2")))
      .filter(col("e1").isNotNull || col("e2").isNotNull)
      .withColumn("pa",
        when(col("e1").isNotNull, col("e1.cnt").cast("double") / col("e1.n_s"))
          .otherwise(lit(0.0)))
      .withColumn("pb",
        when(col("e2").isNotNull, col("e2.cnt").cast("double") / col("e2.n_s"))
          .otherwise(lit(0.0)))
      .withColumn("mid", (col("pa") + col("pb")) / lit(2.0))
      .withColumn("term",
        when(col("pa") > 0,
          lit(0.5) * (col("pa") * log(2.0, col("pa") / col("mid")))).otherwise(lit(0.0))
        + when(col("pb") > 0,
          lit(0.5) * (col("pb") * log(2.0, col("pb") / col("mid")))).otherwise(lit(0.0)))
      .withColumn("tn", round(round(col("term"), 9) * 1e9, 0).cast("long"))
      .groupBy("s1", "s2")
      .agg(
        count(lit(1)).as("n_union_words"),
        (expr("(2 * sum(tn) + 1000) div 2000") / lit(1e6)).as("jsd"))
  }

  /** q114's operator body: REPRODUCIBLE training order — the seeded global
    * shuffle every training run needs (data order changes the model; a
    * rerun must read byte-identical order) expressed scale-correctly:
    * order key = salted md5 of the doc id (the q47/q58/q103 hex device, so
    * any engine recomputes the identical permutation — no rand(), no
    * zipWithIndex), shard = key mod nShards, position = rank within the
    * shard by (key, doc_id). The full corpus is NEVER totally ordered:
    * each shard sorts independently (hash-uniform ⇒ balanced), which is
    * exactly the `partitionBy(shard).sortWithinPartitions` write layout a
    * trainer consumes shard-by-shard — the global order is (shard, pos)
    * lexicographic BY CONVENTION, without any engine ever materializing
    * it. Epoch reshuffles are a salt change ('order:0:' → 'order:1:'),
    * giving independent permutations with the same machinery (q85 assigns
    * WHICH epochs a doc appears in; this orders WITHIN the epoch).
    *
    * Scale shape: one hash computation (row-local) + one 32-way
    * hash-partitioned window sort over ~n/32 rows each — no global sort
    * partition, no skew (keys are uniform by construction). At 100 TB
    * raise nShards to taste; the shape is unchanged.
    */
  def trainOrder(docs: DataFrame, nShards: Int, epoch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hv = expr(
      s"""cast(conv(substring(md5(concat('order:$epoch:',
            cast(doc_id as string))), 1, 8), 16, 10) as bigint)""")
    val w = Window.partitionBy("shard").orderBy(col("hv"), col("doc_id"))
    docs.select(col("doc_id"), hv.as("hv"))
      .withColumn("shard", col("hv") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** q138's operator body: CORPUS SNAPSHOT DIFF — the manifest-level
    * audit an incremental pipeline runs between two corpus versions
    * before reprocessing anything: per source, how many documents were
    * ADDED (in new only), REMOVED (in old only), CHANGED (present in
    * both, content digest differs) and UNCHANGED, with min/max doc_id
    * witnesses per cell. q112 answers "which ARRIVALS duplicate
    * history"; this answers the bookkeeping question one level up —
    * "what actually changed between yesterday's lake and today's", the
    * number that decides whether downstream stages (dedup, index
    * append, decontam) re-run at all and over which slice.
    *
    * Scale shape: each snapshot contributes ONE projection — (doc_id,
    * source, md5(text)) computed inside the scan, text never leaves it —
    * then a single full-outer equi-join on doc_id and a ≤ |sources|×4
    * aggregation. At lake scale both manifests are bucketed by doc_id
    * (or maintained incrementally as digest tables, the q112 fingerprint
    * discipline — unchanged files then never rescan), so the join is a
    * co-partitioned merge with no corpus shuffle; nothing here is ever
    * pairwise.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), col("source").as("osource"),
      md5(col("text")).as("odig"), lit(1L).as("in_old"))
    val n = newDocs.select(col("doc_id"), col("source").as("nsource"),
      md5(col("text")).as("ndig"), lit(1L).as("in_new"))
    // presence is keyed on a constant marker column, not the digest
    // (r14 review): md5(NULL text) is NULL, so digest-nullness would
    // misread a null-text document present in one snapshot as absent;
    // `changed` uses the null-safe comparison for the same reason
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("odig") <=> col("ndig")), "changed")
          .otherwise("unchanged"))
      .withColumn("source", coalesce(col("nsource"), col("osource")))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "status")
  }

  /** q138's fixture convention: OLD = corpus minus doc_id ≡ 0 (mod 7)
    * (those are "added" in NEW), NEW = corpus minus doc_id ≡ 0 (mod 13)
    * ("removed"), and NEW's doc_id ≡ 0 (mod 11) rows carry a revision
    * marker appended to the text ("changed"). Mirrored verbatim in the
    * oracle; docs hitting both exclusions appear in neither snapshot.
    */
  def snapshotDiffFixture(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val old = docs.filter(col("doc_id") % 7 =!= 0)
    val neu = docs.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    snapshotDiff(old, neu)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Reproducible training order (see [[trainOrder]]): seeded hash
    // permutation → shard + within-shard position, no global sort.
    "q114_train_order" -> ((s, d) => trainOrder(documents(s, d), 32, 0)),

    // Corpus snapshot diff (see [[snapshotDiff]]): per-source
    // added/removed/changed/unchanged manifest accounting between two
    // corpus versions — one digest projection per side, one doc_id join.
    "q138_snapshot_diff" -> ((s, d) => snapshotDiffFixture(s, d)),

    // Pairwise source JSD (see [[sourceDivergence]]): the
    // distributional source-similarity matrix next to q90's literal
    // n-gram overlap — one corpus exchange, vocab-sized everything else.
    "q110_source_divergence" -> ((s, d) =>
      sourceDivergence(documents(s, d))),

    // Exact k-per-stratum sample (see [[topKPerStratum]]); the oracle
    // pins the plain window path, StatsOpsSpec pins the prefiltered
    // scale path's set equality against it.
    "q103_stratum_topk" -> ((s, d) =>
      topKPerStratum(documents(s, d), kPerStratum)),

    // Grouped EXACT percentiles of extended price per return flag — the
    // profiling pass before outlier filtering. Exact (sort-based) because
    // the oracle must agree bit-for-bit after rounding; the 100 TB path is
    // approx_percentile (t-digest sketch, merge-able map-side like q26's
    // HLL), which no two engines implement identically — same reason q26
    // is pinned by a tolerance spec instead of a hash oracle.
    "q46_group_percentiles" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D, 0.99D))").as("p"))
        .select(
          col("l_returnflag"), col("n"),
          round(col("p")(0), 4).as("p25"),
          round(col("p")(1), 4).as("p50"),
          round(col("p")(2), 4).as("p90"),
          round(col("p")(3), 4).as("p99"))
        .orderBy("l_returnflag")
    }),

    // Deterministic stratified sample: even-numbered sources keep 25%,
    // odd-numbered 75%, decided row-locally by an md5-prefix threshold on
    // (source, doc_id) — zero shuffle, embarrassingly parallel at any
    // scale, reproducible across engines and runs (no rand()).
    "q47_stratified_sample" -> ((s, d) => {
      // try_cast + two explicit branch predicates, mirroring the oracle's
      // WHERE exactly: a source that doesn't parse as 'src<digits>' yields
      // a null stratum and is EXCLUDED in both engines (a when/otherwise
      // would silently route nulls into the odd branch, and a plain cast
      // would throw under ANSI mode). The stratum substring is UNBOUNDED on
      // both sides — a length-capped Spark parse vs an uncapped oracle
      // parse disagrees on sources with >10 trailing digits (valid int in
      // one engine, overflow→null in the other). No output sort: the
      // sample is corpus-sized and the caller owns ordering (a global
      // orderBy here is a RangePartitioning sampling pass for nothing).
      documents(s, d)
        .withColumn("h", substring(md5(concat(col("source"), lit(":"),
          col("doc_id").cast("string"))), 1, 8))
        .withColumn("srcnum", expr("try_cast(substring(source, 4) AS int)"))
        .filter((col("srcnum") % 2 === 0 && col("h") < evenRate) ||
          (col("srcnum") % 2 =!= 0 && col("h") < oddRate))
        .select(col("doc_id"), col("source"))
    }),

    // Deterministic train/validation/test split assignment (90/5/5): the
    // split is a pure function of doc_id via an md5-prefix threshold —
    // row-local, zero shuffle, reproducible across engines AND stable
    // under corpus growth: adding documents never reassigns existing ones
    // (the property rand()-based splits lack, and the reason training
    // pipelines hash-split). The salt ('split:') makes this hash stream
    // independent of q47's sampling stream — the same doc_id draws
    // independent uniforms for sampling and for splitting.
    "q58_split_assign" -> ((s, d) => {
      documents(s, d)
        .withColumn("h", substring(md5(concat(lit("split:"),
          col("doc_id").cast("string"))), 1, 8))
        .select(col("doc_id"), col("source"),
          when(col("h") < trainBound, "train")
            .when(col("h") < valBound, "val")
            .otherwise("test").as("split"))
    }),

    // Source-mix rebalancing: temperature-smoothed downsampling toward the
    // smallest source — keep rate per source = sqrt(min_count / count), so
    // over-represented sources shrink toward (not onto) the smallest one,
    // the standard mixing move between "native proportions" and "fully
    // balanced". Per-row keep decisions reuse q47's engine-exact
    // md5-threshold device with a PER-SOURCE bound: the bound is computed
    // from the rate (floor(rate·2³²) rendered as 8 hex digits), and every
    // arithmetic step (division, sqrt, floor) is a correctly-rounded IEEE
    // op, so both engines derive bit-identical bounds. Scale shape: one
    // linear count aggregation, a ~source-cardinality rates table
    // broadcast back, then a row-local filter — no corpus shuffle, no
    // output sort.
    "q63_source_mix" -> ((s, d) => sourceMix(documents(s, d))),

    // Temperature-scaled mix plan (alpha = 1/2): per-source weights + the
    // token allocation of a 1M budget under them — all-integer outputs
    // (isqrt weight, half-up micro fraction, floor-div split).
    "q100_mix_weights" -> ((s, d) => mixWeights(documents(s, d))),

    // Sequence packing: greedy-fill documents into fixed token-capacity
    // training bins, in deterministic doc_id order WITHIN each source — a
    // running token sum over a per-source window, bin = tokens-before-me
    // div capacity. Scale shape: one shuffle by source, then the cumsum is
    // sequential only within a source partition (packing is inherently
    // order-dependent); a source too hot for one partition composes the
    // partition key with a shard column — [[packSequences]]'s `shards`
    // knob, measured under an 80%-hot corpus by ScaleSmoke — which
    // changes no math, only the key. The window's per-source sort is the
    // operator; no GLOBAL output sort on top (corpus-sized, caller owns
    // ordering). The oracle pins the unsharded configuration.
    "q57_pack_sequences" -> ((s, d) => packSequences(documents(s, d))),

    // Token-budget data selection: per source, admit documents in
    // descending alpha-word-count priority until `selectBudget` tokens are
    // in — see [[tokenBudgetSelect]] for the admit rule, the integer
    // priority rationale, and the two 100 TB escapes (shard key or
    // sketch-threshold).
    "q83_token_budget" -> ((s, d) => tokenBudgetSelect(documents(s, d))),

    // Epoch/repeat assignment for mixture upsampling: every source brought
    // up to the largest source's token count by whole epochs + one
    // md5-threshold partial epoch — see [[epochAssign]].
    "q85_epoch_assign" -> ((s, d) => epochAssign(documents(s, d))),

    // Per-source corpus report — the datasheet block every shipped dataset
    // carries (doc/token counts, mean quality, rule-gate pass rate per
    // source; Datasheets for Datasets, Gebru et al. 2021, §3.2's
    // composition questions): ONE linear scan + one map-side-combinable
    // agg exchange keyed by the small source dimension. Engine-exactness:
    // q38's quality score lands on exact 1e-4 multiples by construction
    // (n·50 or n·25 capped, ×1 or ×0.5), so round(score·10⁴) is an exact
    // integer in both engines and the per-source MEAN is the integer
    // half-up device over those — no float-summation-order exposure; the
    // Gopher keep rate is integer arithmetic end-to-end.
    "q94_source_report" -> ((s, d) => {
      val q4 = round(graft.operators.TextOps.qualityScoreCol(col("text")) * 10000, 0)
        .cast("long")
      val keep = when(graft.operators.TextOps.gopherKeepCol(col("text")), 1L)
        .otherwise(0L)
      documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"),
          q4.as("q4"), keep.as("keep"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_toks").as("total_tokens"),
          (expr("(2 * sum(q4) + count(1)) div (2 * count(1))") / lit(10000.0))
            .as("mean_quality"),
          (expr("(2 * sum(keep) * 10000 + count(1)) div (2 * count(1))")
            / lit(10000.0)).as("gopher_keep_rate"))
    })
  )

  val oracle: Map[String, String] = Map(
    // q138: the fixture's two snapshots derived from the one documents
    // table with the Spark side's exact modulus conventions; the status
    // CASE mirrors snapshotDiff's when-chain order.
    "q138_snapshot_diff" ->
      """WITH old AS (
           SELECT doc_id, source AS osource, md5(text) AS odig, 1 AS in_old
           FROM documents WHERE doc_id % 7 != 0),
         new AS (
           SELECT doc_id, source AS nsource,
             md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END) AS ndig,
             1 AS in_new
           FROM documents WHERE doc_id % 13 != 0),
         j AS (
           SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             COALESCE(n.nsource, o.osource) AS source,
             CASE WHEN o.in_old IS NULL THEN 'added'
                  WHEN n.in_new IS NULL THEN 'removed'
                  WHEN o.odig IS DISTINCT FROM n.ndig THEN 'changed'
                  ELSE 'unchanged' END AS status
           FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
         SELECT source, status, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
         FROM j GROUP BY source, status ORDER BY source, status""",

    "q114_train_order" ->
      """SELECT doc_id,
           CAST(hv % 32 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 32
             ORDER BY hv, doc_id) AS BIGINT) AS pos
         FROM (SELECT doc_id,
                 CAST('0x' || substr(md5('order:0:' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) AS hv
               FROM documents)""",

    "q110_source_divergence" ->
      """WITH tok AS (
           SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         cnt AS (SELECT source, w, count(*) AS cnt FROM tok GROUP BY ALL),
         ns AS (SELECT source, sum(cnt) AS n_s FROM cnt GROUP BY source),
         srcs AS (SELECT source FROM ns),
         pairs AS (SELECT a.source AS s1, b.source AS s2
                   FROM srcs a JOIN srcs b ON a.source < b.source),
         words AS (SELECT DISTINCT w FROM cnt),
         terms AS (
           SELECT p.s1, p.s2,
             coalesce(CAST(c1.cnt AS DOUBLE) / n1.n_s, CAST(0.0 AS DOUBLE)) AS pa,
             coalesce(CAST(c2.cnt AS DOUBLE) / n2.n_s, CAST(0.0 AS DOUBLE)) AS pb
           FROM pairs p CROSS JOIN words w
           LEFT JOIN cnt c1 ON c1.source = p.s1 AND c1.w = w.w
           LEFT JOIN ns n1 ON n1.source = p.s1
           LEFT JOIN cnt c2 ON c2.source = p.s2 AND c2.w = w.w
           LEFT JOIN ns n2 ON n2.source = p.s2
           WHERE c1.cnt IS NOT NULL OR c2.cnt IS NOT NULL),
         tn AS (
           SELECT s1, s2,
             CAST(round(round(
               (CASE WHEN pa > 0
                     THEN 0.5 * (pa * (ln(pa / ((pa + pb) / 2.0)) / ln(2.0)))
                     ELSE 0 END) +
               (CASE WHEN pb > 0
                     THEN 0.5 * (pb * (ln(pb / ((pa + pb) / 2.0)) / ln(2.0)))
                     ELSE 0 END), 9) * 1e9, 0) AS BIGINT) AS t
           FROM terms)
         SELECT s1, s2, count(*) AS n_union_words,
           ((2 * sum(t) + 1000) // 2000) / 1e6 AS jsd
         FROM tn GROUP BY s1, s2""",

    "q103_stratum_topk" ->
      s"""SELECT doc_id, source, rk FROM (
            SELECT doc_id, source,
                   CAST(row_number() OVER (PARTITION BY source
                     ORDER BY hv, doc_id) AS BIGINT) AS rk
            FROM (SELECT doc_id, source,
                    CAST('0x' || substr(md5('ksample:' || source || ':' ||
                      CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
                  FROM documents) a) b
          WHERE rk <= $kPerStratum""",

    "q46_group_percentiles" ->
      """SELECT l_returnflag, count(*) AS n,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
         round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q47_stratified_sample" ->
      s"""SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) AS h,
                  TRY_CAST(substr(source, 4) AS INT) AS srcnum
           FROM documents) t
         WHERE (srcnum % 2 = 0 AND h < '$evenRate')
            OR (srcnum % 2 <> 0 AND h < '$oddRate')""",

    "q58_split_assign" ->
      s"""SELECT doc_id, source,
           CASE WHEN h < '$trainBound' THEN 'train'
                WHEN h < '$valBound' THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
               FROM documents) t""",

    "q100_mix_weights" ->
      """WITH per AS (
           SELECT source, count(*) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         w AS (
           SELECT source, n_docs, n_tokens,
                  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
           FROM per),
         tot AS (SELECT sum(weight) AS tot_w FROM w)
         SELECT source, n_docs, n_tokens, weight,
                CAST((2 * weight * 1000000 + tot_w) // (2 * tot_w) AS BIGINT) AS mix_micro,
                CAST((1000000 * weight) // tot_w AS BIGINT) AS planned_tokens
         FROM w, tot ORDER BY source""",

    "q63_source_mix" ->
      """WITH counts AS (
           SELECT source, count(*) AS cnt FROM documents GROUP BY source),
         mn AS (SELECT min(cnt) AS min_cnt FROM counts),
         rates AS (
           SELECT source,
                  sqrt(CAST(min_cnt AS DOUBLE) / cnt) AS rate,
                  lower(lpad(hex(CAST(floor(
                    sqrt(CAST(min_cnt AS DOUBLE) / cnt) * 4294967296.0)
                    AS BIGINT)), 8, '0')) AS bound
           FROM counts, mn)
         SELECT d.doc_id, d.source
         FROM documents d JOIN rates r USING (source)
         WHERE r.rate >= 1.0
            OR substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < r.bound""",

    "q57_pack_sequences" ->
      s"""SELECT doc_id, source, n_tokens,
           CAST(floor((cum - n_tokens) / ${packCapacity.toDouble}) AS BIGINT) AS bin_id
         FROM (
           SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                    OVER (PARTITION BY source ORDER BY doc_id) AS cum
           FROM documents) t""",

    "q83_token_budget" ->
      s"""SELECT doc_id, source, n_tokens, n_alpha,
           CAST(cum AS BIGINT) AS cum FROM (
           SELECT doc_id, source, n_tokens, n_alpha,
                  sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY n_alpha DESC, doc_id) AS cum
           FROM (
             SELECT doc_id, source,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    CAST(len(list_filter(string_split(text, ' '),
                      t -> regexp_matches(t, '^[a-z]+$$'))) AS BIGINT) AS n_alpha
             FROM documents) b) t
         WHERE cum - n_tokens < $selectBudget""",

    "q85_epoch_assign" ->
      """WITH totals AS (
           SELECT source,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total
           FROM documents GROUP BY source),
         tgt AS (SELECT max(total) AS tgt FROM totals),
         plan AS (
           SELECT source, tgt // total AS "full",
                  lower(lpad(hex(CAST(floor(
                    CAST(tgt - (tgt // total) * total AS DOUBLE) / total
                      * 4294967296.0) AS BIGINT)), 8, '0')) AS bound
           FROM totals, tgt),
         n AS (
           SELECT d.doc_id, d.source,
                  p."full" + CASE WHEN substr(md5('epoch:' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 8) < p.bound
                    THEN 1 ELSE 0 END AS n_epochs
           FROM documents d JOIN plan p USING (source))
         SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
         FROM n, UNNEST(generate_series(0, CAST(n_epochs - 1 AS BIGINT))) AS u(e)""",

    "q94_source_report" ->
      // score / gate formulas spliced from TextOps' shared oracle
      // fragments (r10 ADVICE): the datasheet report cannot drift from
      // the q38/q77 operators it summarizes
      s"""WITH scored AS (
           SELECT source,
             n_tokens AS n_toks,
             CAST(round((${TextOps.oracleQualityScoreSql}) * 10000, 0) AS BIGINT) AS q4,
             CASE WHEN ${TextOps.oracleGateLenSql}
                   AND ${TextOps.oracleGateWlenSql}
                   AND ${TextOps.oracleGateAlphaSql}
                   AND ${TextOps.oracleGateStopSql}
                  THEN 1 ELSE 0 END :: BIGINT AS keep
           FROM (${TextOps.oracleDocStatsSql("source")}) b)
         SELECT source, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                ((2 * sum(q4) + count(*)) // (2 * count(*))) / 10000.0 AS mean_quality,
                ((2 * sum(keep) * 10000 + count(*)) // (2 * count(*))) / 10000.0
                  AS gopher_keep_rate
         FROM scored GROUP BY source"""
  )
}
