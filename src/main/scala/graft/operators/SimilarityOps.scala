package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions
import graft.util.Cached
import graft.util.Tables._

/** Similarity search over the `embeddings` table (Array[Float], unit-norm).
  *
  * Brute-force cosine top-k is the correctness baseline: broadcast the
  * (small) query set against the candidate scan — a narrow map + top-k per
  * query, no shuffle of the candidate side. All dot products go through the
  * codegen'd `graft_dot` Catalyst expression (graft.functions.ArrayDot);
  * norms are computed ONCE per row before the pair join instead of per pair
  * — at 100 TB the same plan holds: per-row prep is linear, the pair stage
  * only pays one fused multiply-add loop per candidate.
  *
  * Scale path beyond brute force: q41's centroid (IVF) assignment — cluster
  * centroids are tiny (k×dim), computed distributed and broadcast; assigning
  * each vector is k dot products in a narrow map stage. A full IVF search
  * then probes only the best cluster's inverted list.
  */
object SimilarityOps {

  /** One index temp directory per (JVM, key): q122/q126's repeated
    * invocations overwrite in place instead of leaking a copy per call.
    */
  private def ivfPqTmpDir(key: String): String =
    graft.util.TempDirs.memo("graft_ivfpq_index", key)(_ => ())

  /** Build-once memo per (JVM, key): the index WRITE is a one-time
    * construction cost — a production deployment builds the index once and
    * amortizes it over every query batch (the r11 20× smoke: build grows
    * linearly with the corpus, search stays output-bounded), so repeated
    * q122/q126 invocations against the SAME corpus must not re-pay it
    * (r12 verdict #3: the first timed bench run was measuring build+search
    * while later runs measured search, contaminating the signal). The
    * corpus under a key is immutable for the life of the JVM (testdata
    * dirs), so build-once is semantics-preserving; `computeIfAbsent` does
    * not memoize on a throw, so a failed build retries on the next call.
    */
  private val ivfPqBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def buildOnce(key: String)(build: => Unit): Unit =
    ivfPqBuilt.computeIfAbsent(key, _ => { build; java.lang.Boolean.TRUE })

  /** Path-reuse hook (r13 ADVICE): the build memo is JVM-lifetime, so a
    * caller that deletes a fixture index directory and expects the next
    * invocation to rebuild it must drop the key explicitly (the testdata
    * corpora this memo serves are immutable, so the library never needs
    * to — the hook exists for harnesses that recycle paths).
    */
  private[graft] def invalidateIvfPqBuildMemo(key: String): Unit =
    ivfPqBuilt.remove(key)

  /** q133's fixture index: the full lifecycle on q126's drifted split —
    * build on the ¾ base (stale codebooks), append the remaining quarter
    * (exactly the appended mass q127 audits), then REBUILD over
    * base + appended. The rebuild retrains over the same rows a fresh
    * full-corpus build trains on, so the rebuilt search must equal q122's
    * — the equality q133's oracle pins by sharing q70's text verbatim.
    */
  private def ensureQ133Index(s: SparkSession, d: String): String = {
    val dir = ivfPqTmpDir(s"q133:$d")
    buildOnce(s"q133:$d") {
      val base = prepped(s, d).filter(!expr(q126BatchFilter))
      val batch = prepped(s, d).filter(expr(q126BatchFilter))
      saveIvfPqIndexFrom(base, dir)
      appendToIvfPqIndex(s, batch, dir)
      rebuildIvfPqIndexFrom(prepped(s, d), dir)
    }
    dir
  }

  /** q126/q127's shared fixture index: built on the ¾ base (NOT
    * q126BatchFilter), the remaining quarter appended against the frozen
    * centroids/codebook — once per (JVM, corpus).
    */
  private def ensureQ126Index(s: SparkSession, d: String): String = {
    val dir = ivfPqTmpDir(s"q126:$d")
    buildOnce(s"q126:$d") {
      val base = prepped(s, d).filter(!expr(q126BatchFilter))
      val batch = prepped(s, d).filter(expr(q126BatchFilter))
      saveIvfPqIndexFrom(base, dir)
      appendToIvfPqIndex(s, batch, dir)
    }
    dir
  }

  /** Task count for the compute-bound, byte-tiny ADC stages (the pivot
    * fan-out and the shuffle-LUT fold): 4 waves per core keeps any single
    * wave well under half the stage wall (the smoke's dominance bar)
    * while the per-task work stays far above scheduling overhead. Scales
    * with the cluster via defaultParallelism.
    */
  private def fanPartitions(s: SparkSession): Int =
    graft.util.Tables.fanWidth(s)

  /** embeddings with double-array `e` and precomputed norm `nrm`. */
  private def prepped(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    embeddings(s, d)
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
  }

  /** q44's operator body, parameterized (r11): random-hyperplane sign-LSH
    * near-dup with `L` bands × `b` sign bits per band. `b` is THE scale
    * knob: per-band candidate pairs grow ~n²/2^b, so a fixed width goes
    * quadratic as the corpus grows — +1 bit per corpus DOUBLING keeps
    * expected bucket occupancy (and so pair count per vector) constant.
    * The 20× scale smoke pins both halves deterministically via the
    * pair-mass probes over [[rpLshSigsAt]] (fixed-b mass ×4.00 per
    * corpus doubling; +1 bit halves background mass). The q44/q62
    * queries bind the oracle-pinned (6, 8); recall at a target cosine is
    * the standard (L, b) trade [Charikar, STOC'02] — widen b only
    * alongside the corpus, and raise L if the recall floor matters more
    * than candidate cost. `base` must carry (vec_id, e, nrm) (see
    * [[prepped]]); candidates exact-verify on cosine ≥ `minCos`, so
    * emitted pairs are never false positives at any (L, b).
    */
  private[graft] def rpLshNearDup(s: SparkSession, base: DataFrame,
      L: Int, b: Int, minCos: Double = 0.45): DataFrame = {
    val cands = rpLshCandidates(s, base, L, b)
    val va = base.select(col("vec_id").as("ia"), col("e").as("ea"), col("nrm").as("na"))
    val vb = base.select(col("vec_id").as("ib"), col("e").as("eb"), col("nrm").as("nb"))
    // verify-join shape: PLAIN join-backs, deliberately unhinted (r16
    // adjudication): the vector side is corpus-linear and byte-small, so
    // AQE converts both join-backs to BROADCAST at runtime — the pair
    // stream (quadratic within buckets, 512-byte rows once vectors
    // attach) then never exchanges at all, and the verify fuses into the
    // pair-generation stage at PairBuckets' 4-waves-per-core width. An
    // r16 attempt to "improve" this with shuffle_hash hints + explicit
    // repartitions FORBADE that conversion and forced the wide stream
    // through two full shuffles: 522 s vs 87 s on the 20× smoke corpus
    // (isolated A/B, idle box). At lake scale, where the vector side
    // outgrows broadcast, the planner falls back to the shuffled plan on
    // its own — exactly the adaptivity the hint was throwing away.
    cands.join(va, "ia").join(vb, "ib")
      .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("ia"), col("ib"), round(col("cos"), 6).as("cos"))
  }

  /** q44's CANDIDATE stage alone: distinct (ia < ib) pairs sharing at
    * least one of the L b-bit sign signatures, every one of which is
    * shuffled into the exact cosine verify.
    */
  private[graft] def rpLshCandidates(s: SparkSession, base: DataFrame,
      L: Int, b: Int): DataFrame = {
    // the bucket self-join is COMPUTE-bound (each bucket is a mini
    // cartesian) on BYTE-tiny input, which defeats size-based scheduling
    // TWICE at scale: AQE's coalesce starves the stage (measured at 20x:
    // 8 tasks of ~34 s on a 32-core box), and fixing only that exposes the
    // single-key wall — one hot (band, sig) bucket's quadratic pair
    // generation is ONE task however many partitions exist (measured:
    // max 37 s vs median 5.9 s). Adjudicated A/B at 20x (isolated fresh
    // JVMs, same idle machine): full near-dup 53.4 s -> 36.0 s with
    // identical 69.2M verified pairs — the win is the un-starved,
    // un-walled schedule feeding the verify. The split is SIZE-ADAPTIVE
    // as of r13 (see [[PairBuckets]]): buckets are counted first and only
    // those past the hot bar pay the block replication; the common case
    // takes the plain equi-join with no replication tax.
    PairBuckets.candidatePairs(rpLshSigs(s, base, L, b),
      Seq("band", "sig"), "vec_id")
  }

  /** The parameterized q44 over a testdata dir — the scale-smoke hook for
    * driving the band-width knob without touching the oracle-pinned query.
    */
  def rpLshNearDupAt(s: SparkSession, d: String, L: Int, b: Int): DataFrame =
    rpLshNearDup(s, prepped(s, d), L, b)

  /** AUTO band width (r12): the knob closes its loop — b self-selects
    * from MEASURED corpus statistics instead of a hand-set value.
    *
    * The quantity the knob controls is BACKGROUND pair mass (random
    * bucket collisions among non-similar vectors — the component that
    * grows ∝n² at fixed b; the true near-dup mass is the operator's
    * OUTPUT and must not drive sizing). Background is estimated by the
    * independent-bits model with measured marginals: two non-correlated
    * vectors agree on sign bit k with probability m_k = q_k² + (1−q_k)²
    * where q_k is the corpus fraction positive on hyperplane k, so
    *
    *   B̂(b) = Σ_band (n²/2) · Π_{k<b} m_k
    *
    * — the expected-occupancy estimator that captures bit skew (a biased
    * plane concentrates buckets; the uniform closed form n²/2^b misses
    * this) while deliberately excluding pairwise correlation (the
    * signal). All q_k come from ONE linear signature pass at bMax (bit
    * marginals of every narrower width are prefixes); selection is then
    * driver-side arithmetic: the smallest b ≥ b0 with B̂(b)/n ≤
    * `budgetPerVec`, capped by the Charikar S-curve recall floor
    * 1−(1−p^b)^L ≥ `recallFloor` at `recallCos` (q109's plan-from-the-
    * curve discipline applied to sign-LSH — widening b trades background
    * for recall, and the floor is where the trade stops).
    *
    * Deterministic end to end (md5 hyperplanes, exact integer marginal
    * counts), so the same corpus always picks the same b — plan equality
    * with the equivalent hand-set b is spec-pinned. Doubling the corpus
    * doubles B̂/n and each extra bit multiplies it by m̄ (≈½ + bias²·2),
    * so b grows ~+1 per doubling: the documented 100 TB sizing rule,
    * now measured rather than assumed. Probe cost: one linear pass +
    * one L-row collect; at 100 TB run it on a deterministic hash-sample
    * (marginals are means — sampling error vanishes in √samples).
    */
  private[graft] def autoBandBits(s: SparkSession, base: DataFrame, L: Int,
      b0: Int = 8, bMax: Int = 14, budgetPerVec: Double = 768.0,
      recallCos: Double = 0.9, recallFloor: Double = 0.75): Int = {
    val sigs = rpLshSigs(s, base, L, bMax)
    val aggs = count(lit(1L)).as("nv") +:
      (0 until bMax).map(bit => sum(expr(s"(sig >> $bit) & 1")).as(s"c$bit"))
    val rows = sigs.groupBy("band").agg(aggs.head, aggs.tail: _*).collect()
    val n = rows.headOption.map(_.getLong(1)).getOrElse(0L)
    def bhat(b: Int): Double = rows.map { r =>
      val nb = r.getLong(1).toDouble
      var prod = nb * nb / 2.0
      var k = 0
      while (k < b) {
        val q = if (nb > 0) r.getLong(2 + k) / nb else 0.5
        prod *= q * q + (1 - q) * (1 - q)
        k += 1
      }
      prod
    }.sum
    val p = 1.0 - math.acos(math.min(1.0, recallCos)) / math.Pi
    def recall(b: Int): Double = 1.0 - math.pow(1.0 - math.pow(p, b), L)
    var b = b0
    while (b < bMax && bhat(b) > budgetPerVec * n && recall(b + 1) >= recallFloor)
      b += 1
    b
  }

  /** [[autoBandBits]] over a testdata dir, memoized per (JVM, corpus
    * content, L) — the scale-smoke hook and, since the auto width became
    * the q44/q62 default (r16), the registration path. Sizing happens
    * once per corpus in production; repeated invocations against the
    * same immutable corpus must not re-pay the measurement pass (the
    * buildOnce rationale — without this the bench's timed q44/q62 runs
    * each carried an extra linear probe pass, ~+1 s at sf0.1). Keyed on
    * the embeddings table's file-listing token, so a regenerated corpus
    * at the same path re-measures.
    */
  def autoBandBitsAt(s: SparkSession, d: String, L: Int = 6): Int =
    autoBandMemo.computeIfAbsent(
      s"$d@${DedupOps.corpusToken(s, d, "embeddings.parquet")}:L$L",
      _ => Integer.valueOf(autoBandBits(s, prepped(s, d), L))).intValue()

  private val autoBandMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** q44's operator with the self-selected band width: measure, pick b,
    * run — the no-knob scale path, and as of r16 the DEFAULT behind the
    * registered q44/q62 (the r15 verdict's #4). The oracles stay in
    * lockstep because [[autoBandBits]] floors at b0 = 8 on the fixture
    * corpora — the oracle-pinned geometry — and only widens when the
    * measured background mass demands it (the smoke's (8, 9) gate at
    * 10×/20×); the fixed-b seams ([[rpLshNearDupAt]],
    * [[graft.operators.GraphOps.embeddingClustersAt]]) remain for
    * diagnostics and manual sizing.
    */
  def rpLshNearDupAutoAt(s: SparkSession, d: String, L: Int = 6): DataFrame =
    rpLshNearDup(s, prepped(s, d), L, autoBandBitsAt(s, d, L))

  /** Per-band b-bit sign signatures `(vec_id, band, sig)` over a testdata
    * dir — the scale-smoke hook for the deterministic band-width-knob
    * gate. The smoke aggregates these into the per-bucket PAIR MASS
    * (Σ k·(k−1)/2 — the exact pre-distinct row count the bucket pair
    * join generates). On the clustered smoke corpus that mass is ~87%
    * within-cluster TRUE near-dup pairs — the operator's intended
    * OUTPUT, which the knob must not and cannot shrink (per extra bit a
    * cos≈0.9 pair keeps colliding with p≈1−θ/π≈0.86, and even the
    * SURVIVING cross-cluster mass retains ~0.81/bit, because at b=8 the
    * survivors are precisely the closest cross pairs). The textbook
    * halving (measured 0.528/bit) holds on a noise-only corpus where
    * all mass is background — which is exactly the component that grows
    * ∝n² at fixed b and the one the knob exists to hold down. The probe
    * is DETERMINISTIC (md5-derived hyperplanes) and costs one linear
    * aggregation — no quadratic work, no machine-noise term, unlike the
    * wall-ratio gate this replaced.
    */
  def rpLshSigsAt(s: SparkSession, d: String, L: Int, b: Int): DataFrame =
    rpLshSigs(s, prepped(s, d), L, b)

  /** Per-band b-bit sign signatures `(vec_id, band, sig)` — the shared
    * front of [[rpLshCandidates]] and the smoke's pair-mass probe.
    */
  private def rpLshSigs(s: SparkSession, base: DataFrame,
      L: Int, b: Int): DataFrame = {
    // widened at entry (r17, guide §2.5): the dim-explode + plane join +
    // per-vector partial agg is the corpus-heavy front and the embeddings
    // fixture is a single row group — one task otherwise. Order-safe
    // DESPITE the double dot sum: every (vec_id, band, bit) group's rows
    // derive from ONE base row (posexplode), so a row-level repartition
    // keeps each group inside one partition and the partial-agg summation
    // order is the array order either way. (Corpus-spanning double aggs —
    // centroidsOf, pqCodebook — are deliberately NOT widened.)
    val exploded = graft.util.Tables.widenSmall(base)
      .select(col("vec_id"), posexplode(col("e")).as(Seq("pos", "x")))
    // tiny: L*b*dim rows. The dimension comes from a ONE-row probe —
    // the prior `exploded.select("pos").distinct()` ran a full corpus
    // posexplode + distinct shuffle just to learn a constant the first
    // row already knows. (The probe is necessarily eager — an ARRAY
    // schema carries no length — but it is TOTAL: an empty embeddings
    // table yields dim 0 → zero planes → an empty result, not a
    // NoSuchElementException at query-construction time.)
    val dim = base.select(size(col("e")).as("n")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val planes = s.range(dim).select(col("id").cast("int").as("pos"))
      .select(col("pos"), explode(expr(s"sequence(0, ${L * b - 1})")).as("j"))
      .select(col("pos"),
        (col("j") / b).cast("int").as("band"),
        (col("j") % b).cast("int").as("bit"))
      .withColumn("sgn", expr(
        """CASE WHEN substr(md5(concat(cast(band AS STRING), '_',
                                       cast(bit AS STRING), '_',
                                       cast(pos AS STRING))), 1, 1)
                IN ('0','1','2','3','4','5','6','7')
           THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"""))
    val dots = exploded.join(broadcast(planes), "pos")
      .groupBy("vec_id", "band", "bit")
      .agg(round(sum(col("x") * col("sgn")), 6).as("dot"))
    dots.groupBy("vec_id", "band")
      .agg(sum(when(col("dot") > 0, expr("shiftleft(1, bit)")).otherwise(0))
        .cast("long").as("sig"))
  }

  /** IVF coarse quantizer: per-label mean vectors `(c_label, ce)` — tiny
    * (k×dim), computed distributed, meant to be broadcast.
    */
  private def centroidsOf(base: DataFrame): DataFrame =
    base.select(col("label"), posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy(col("label").as("c_label"), col("pos"))
      .agg(avg("x").as("cx"))
      .groupBy("c_label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)").as("ce"))

  /** The coarse-cell assignment kernel shared by q41/q43/q70/q86: score
    * `base` (vec_id plus the `carry` columns, which must include `e`)
    * against every broadcast centroid with the rounded-dot convention and
    * rank cells per vector by (desc r_dot, c_label). `rn === 1` IS the
    * cell assignment; `rn <= nProbes` is the probe set. One definition so
    * the rounding precision and tie-break can never desynchronize the
    * four consumers from each other or from the shared oracle text.
    */
  private def rankedCells(base: DataFrame, carry: Seq[String]): DataFrame =
    rankedCellsWith(base, centroidsOf(base), carry)

  /** [[rankedCells]] against a GIVEN centroid frame — the seam the saved
    * index needs: q122's build derives cell assignment from the SAME
    * centroids instance it writes (computing centroids twice risks a
    * summation-order difference straddling the round(…, 6) boundary and
    * desyncing the saved inverted lists from the saved probe table), and
    * q126's append assigns new vectors against centroids READ BACK from
    * the saved parquet.
    */
  private def rankedCellsWith(base: DataFrame, centroids: DataFrame,
      carry: Seq[String]): DataFrame = {
    val scored = base.select(("vec_id" +: carry).map(col): _*)
      .join(broadcast(centroids))
      .withColumn("r_dot", round(expr("graft_dot(e, ce)"), 6))
    val w = Window.partitionBy("vec_id").orderBy(desc_nulls_last("r_dot"), col("c_label"))
    scored.withColumn("rn", row_number().over(w))
  }

  /** IVF ANN top-5 for the query vectors (vec_id < 3), probing each
    * query's `nProbes` nearest coarse centroids. More probes score more
    * inverted lists — monotonically better recall for linearly more
    * candidate work, the standard IVF knob (nProbes = k degenerates to
    * brute force over a pointless extra shuffle). At 100 TB the plan is
    * unchanged by the knob: the probe stage is a per-query top-nProbes
    * over the broadcast centroid set, and the candidate stage stays an
    * equi-join on centroid id whose input grows linearly with nProbes.
    */
  def ivfSearch(s: SparkSession, d: String, nProbes: Int = 2): DataFrame = {
    require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
    val base = prepped(s, d)
    val ranked = rankedCells(base, Seq("e", "nrm"))
    // inverted lists: every vector in its single nearest cluster
    val lists = ranked.filter(col("rn") === 1)
      .select(col("c_label"), col("vec_id").as("cid"),
        col("e").as("ce2"), col("nrm").as("cn"))
    // queries probe their top-nProbes clusters
    val probes = ranked.filter(col("rn") <= nProbes && col("vec_id") < 3)
      .select(col("c_label"), col("vec_id").as("qid"),
        col("e").as("qe"), col("nrm").as("qn"))
    val pairs = probes.join(lists, "c_label")
      .filter(col("qid") =!= col("cid"))
      .dropDuplicates("qid", "cid")
      .withColumn("cos", round(expr("graft_dot(qe, ce2)") / (col("qn") * col("cn")), 6))
    val tw = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
    pairs.withColumn("rn", row_number().over(tw))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("cid"), col("cos"), col("rn").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** Rounded squared-L2 distance between vector columns `a` and `b` —
    * rounding before any argmin keeps near-ties engine-stable (the q61
    * device).
    */
  private def rSqDist(a: String, b: String) = round(expr(
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v)"), 6)

  /** One Lloyd iteration refining [[centroidsOf]]'s label-mean seed: assign
    * every vector to its nearest seed centroid by rounded squared L2 (the
    * argmin is a map-side-combinable MIN of a (dist, c_label) struct — one
    * aggregation exchange, no window sort), then recompute each cluster's
    * mean. This is real k-means training for the IVF coarse quantizer —
    * the label-mean seeds elsewhere stand in for it only because unbounded
    * iteration counts diverge across engines; ONE iteration from a
    * deterministic seed with rounded assignment distances stays
    * oracle-exact. Scale shape per iteration: broadcast k×dim centroids,
    * one narrow assignment map + argmin exchange, one posexplode mean
    * aggregation — the corpus never shuffles on anything wider than
    * (vec_id) and (c_label, pos). A cluster that loses every member simply
    * emits no refined centroid (standard empty-cluster drop).
    */
  private[operators] def kmeansRefined(base: DataFrame): DataFrame = {
    val assigned = base.select(col("vec_id"), col("e"))
      .join(broadcast(centroidsOf(base)))
      .withColumn("dist", rSqDist("e", "ce"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("c_label"))).as("best"))
      .select(col("vec_id"), col("best.c_label").as("k_label"))
    base.select(col("vec_id"), col("e")).join(assigned, "vec_id")
      .select(col("k_label"), posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy(col("k_label").as("c_label"), col("pos"))
      .agg(avg("x").as("cx"))
      .groupBy("c_label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)").as("ce"))
  }

  /** PQ geometry: 64 dims = 8 subspaces × 8 dims, 10 codewords each. */
  private[operators] val pqSub = 8

  /** Per-(codeword, subspace) mean subvector — m×k×(dim/m) values, tiny,
    * meant to be broadcast (the q61/q66 codebook; label means keep the
    * DuckDB oracle exact where k-means iterations would diverge).
    */
  private[operators] def pqCodebook(base: DataFrame): DataFrame =
    base.select(col("label").as("code"), posexplode(col("e")).as(Seq("pos", "x")))
      .withColumn("subspace", (col("pos") / pqSub).cast("int"))
      .groupBy("code", "subspace", "pos")
      .agg(avg("x").as("cx"))
      .groupBy("code", "subspace")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)").as("cvec"))

  /** PQ code assignment: (vec_id, subspace, code, dist) — each subvector's
    * nearest codeword by rounded squared L2. The argmin is a map-side-
    * combinable MIN of a (dist, code) struct: one aggregation exchange on
    * (vec_id, subspace), no window sort; rounding before the argmin keeps
    * near-ties engine-stable, ties break on code id via struct ordering.
    */
  private[operators] def pqCodes(base: DataFrame, codebook: DataFrame): DataFrame =
    base.select(col("vec_id"), col("e"))
      .join(broadcast(codebook))
      .withColumn("svec", expr(s"slice(e, subspace * $pqSub + 1, $pqSub)"))
      .withColumn("dist", rSqDist("svec", "cvec"))
      .groupBy("vec_id", "subspace")
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        col("best.code").cast("long").as("code"), col("best.dist").as("dist"))

  /** q84's operator body: int8 scalar quantization (SQ8) — the OTHER
    * standard vector-compression scheme next to PQ (q61): each dimension
    * gets a global [min, max] range and every value maps to
    * `floor((x − mn) · 255 / (mx − mn))`, capped at 255 so `x = mx` lands
    * in the top bin whichever way the two IEEE roundings fall. 4× smaller
    * than float32 with no codebook training, the format faiss calls
    * `SQ8` and most vector stores default to. Every step is a correctly-
    * rounded IEEE double op on identical inputs in identical order, so the
    * codes are bit-identical across engines (the q63 bound device's
    * argument); a constant dimension (mx = mn) codes to 0 by convention.
    *
    * Scale shape: one linear posexplode aggregation down to `dim` rows of
    * per-dimension ranges (map-side combinable, 64-key shuffle), broadcast
    * back, then a row-local code map — the corpus itself never shuffles.
    * SimilarityOpsSpec pins the reconstruction contract: decoding to the
    * bin midpoint lands within half a bin width of the original value.
    */
  def sq8Codes(base: DataFrame): DataFrame = {
    val unpacked = base
      .select(col("vec_id"), posexplode(col("e")).as(Seq("dim", "x")))
    val ranges = unpacked.groupBy("dim")
      .agg(min("x").as("mn"), max("x").as("mx"))
    unpacked.join(broadcast(ranges), "dim")
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(floor((col("x") - col("mn")) * lit(255.0) /
            (col("mx") - col("mn"))), lit(255.0)).cast("long")).as("code"))
  }

  /** q86's operator body: SemDeDup [Abbas et al., arXiv:2303.09540 §3] —
    * SEMANTIC deduplication, the embedding-space sibling of the text dedup
    * chain: cluster the corpus with the coarse quantizer (q41's centroid
    * assignment), compute cosine similarity ONLY within a cluster, and
    * drop all but one of any within-cluster group above the threshold.
    * The keeper is the deterministic lowest-vec_id convention (a vector
    * is dropped iff a LOWER id in its cell sits above θ) rather than the
    * paper's random choice — any fixed choice satisfies the method, and a
    * deterministic one is what a reproducible pipeline (and the oracle)
    * needs. Output keeps every vector with its cell and keep flag — the
    * pipeline's audit shape (q73's convention), not just the survivors.
    *
    * Scale shape: assignment is a broadcast k×dim join + per-vector argmax
    * (linear); the pair stage is an equi-join on cell id, so candidate
    * work is cell-bounded, never corpus-all-pairs — exactly the paper's
    * reason for clustering first. A cell too hot for one task is governed
    * by the cluster count knob (the paper re-clusters oversized clusters;
    * operationally: raise k, or split hot cells by a salt the way q29
    * does — cosine pairs don't cross cells, so salting only duplicates
    * the hot cell's rows, not the corpus).
    */
  def semDedup(s: SparkSession, d: String, theta: Double = 0.45): DataFrame = Cached { c =>
    val base = prepped(s, d)
    // the assignment feeds BOTH pair-join sides and the final audit join —
    // hold it once instead of re-running the scan+assign subtree three
    // times (the q70 codebook rationale)
    val cells = c.hold(rankedCells(base, Seq("e", "nrm"))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("c_label")))
    val a = cells.select(col("c_label"), col("vec_id").as("ia"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = cells.select(col("c_label"), col("vec_id").as("ib"),
      col("e").as("eb"), col("nrm").as("nb"))
    val dropped = a.join(b, "c_label")
      .filter(col("ia") < col("ib"))
      .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cos") >= theta)
      .select(col("ib").as("vec_id")).distinct()
      .withColumn("dup", lit(1L))
    cells.select(col("vec_id"), col("c_label"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_label").cast("long").as("c_label"),
        when(col("dup").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** IVF-PQ search [Jégou et al., TPAMI'11, §IV]: the composition of q41's
    * coarse quantizer with q61's product codes — ADC scoring runs ONLY over
    * the probed inverted lists, which is the full published method (q66 is
    * its exhaustive non-IVF variant).
    *
    * Index side (build once, amortized over queries): every vector gets a
    * coarse cell (nearest centroid) and 8 PQ codes; the searchable
    * structure is `(c_label, cid, subspace, code)` — the classical
    * "inverted file with PQ codes". Both build passes are linear, and at
    * 100 TB the index would be WRITTEN `partitionBy(c_label)` so a search
    * scan prunes to the probed cells at the file level.
    *
    * Search side (per query batch): each query probes its `nProbes`
    * nearest cells and precomputes the m×k LUT of subvector→codeword
    * distances; the probe×LUT frame (queries × nProbes × 80 rows — tiny)
    * broadcasts against the code table keyed `(c_label, subspace, code)`.
    * Rows of unprobed cells are dropped AT the broadcast hash join — the
    * per-candidate aggregation only ever sees probed-cell codes — so
    * query-time work is nprobe/nlist-bounded instead of corpus-linear
    * (SimilarityOpsSpec pins candidates(p=2) < candidates(exhaustive) and
    * the p=nlist end recovering q66 exactly; PlanShapeSpec pins the
    * broadcast join shape).
    *
    * `k = Int.MaxValue` returns ALL scored candidates with their ranks —
    * the spec hook for candidate-boundedness (and what a recall-tuning
    * harness would sweep).
    */
  def ivfPqSearch(s: SparkSession, d: String, nProbes: Int = 2,
      k: Int = 5): DataFrame = Cached { c =>
    require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
    val base = prepped(s, d)
    // held NARROW and filled: lists (main job) and probes (broadcast-side
    // subtree) both consume the ranked assignment, and broadcast builds
    // run on their own threads — uncached, the centroid aggregation +
    // assignment window ran TWICE concurrently (and two independent
    // centroid avg passes even risk a summation-order desync at the
    // round(…,6) boundary, the rankedCellsWith scaladoc hazard).
    // Projected to (vec_id, c_label, rn) so the cache never holds
    // embedding arrays.
    val ranked = c.hold(rankedCells(base, Seq("e"))
      .select(col("vec_id"), col("c_label"), col("rn")), fill = true)
    val lists = ranked.filter(col("rn") === 1)
      .select(col("c_label"), col("vec_id").as("cid"))
    val probes = ranked.filter(col("rn") <= nProbes && col("vec_id") < 3)
      .select(col("c_label"), col("vec_id").as("qid"))
    // same rationale as q66: codes and LUT both consume the (tiny)
    // codebook, and broadcast-side subtrees get no exchange reuse; filled
    // because the LUT broadcast build races the main job's scan
    val codebook = c.hold(pqCodebook(base), fill = true)
    // the inverted file with PQ codes: one equi-join on vec_id (both sides
    // linear — the index build)
    val listCodes = pqCodes(base, codebook)
      .select(col("vec_id").as("cid"), col("subspace").cast("int").as("subspace"),
        col("code").cast("int").as("code"))
      .join(lists, "cid")
    val lut = base.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
      .join(broadcast(codebook))
      .withColumn("qsub", expr(s"slice(qe, subspace * $pqSub + 1, $pqSub)"))
      .withColumn("qdist", rSqDist("qsub", "cvec"))
      .select("qid", "subspace", "code", "qdist")
    // (c_label, qid, subspace, code, qdist): the per-(query, probed-cell)
    // LUT — queries × nProbes × m × k rows, the broadcast side
    val probeLut = probes.join(lut, "qid")
    val adist = listCodes
      .join(broadcast(probeLut), Seq("c_label", "subspace", "code"))
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid")
      .agg(round(sum("qdist"), 6).as("adist"))
    val tw = Window.partitionBy("qid").orderBy(col("adist"), col("cid"))
    adist.withColumn("rn", row_number().over(tw))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("adist"), col("rn").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** q39's operator body with the block count exposed: exact
    * pairwise-threshold cosine via the 1-Bucket-Theta blocked pair join.
    * `blocks` (B) sets the B(B+1)/2 shuffle-bucket count — scale it with
    * cluster cores; replication grows ~B/2× while per-bucket work shrinks
    * quadratically.
    */
  def embeddingNeardup(s: SparkSession, d: String, blocks: Int = 8): DataFrame = {
    require(blocks >= 1, s"blocks must be >= 1, got $blocks")
    val B = blocks
    val base = prepped(s, d)
      .withColumn("blk", pmod(hash(col("vec_id")), lit(B)))
    val a = base
      .withColumn("bb", explode(expr(s"sequence(blk, ${B - 1})")))
      .select(col("blk").as("ba"), col("bb"),
        col("vec_id").as("ia"), col("e").as("ea"), col("nrm").as("na"))
    val b = base
      .withColumn("ba", explode(expr("sequence(0, blk)")))
      .select(col("ba"), col("blk").as("bb"),
        col("vec_id").as("ib"), col("e").as("eb"), col("nrm").as("nb"))
    // a cross-block pair appears exactly once (roles fixed by block id, in
    // either order); a same-block pair appears in both orders → keep one
    a.join(b, Seq("ba", "bb"))
      .filter(col("ba") =!= col("bb") || col("ia") < col("ib"))
      .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cos") >= 0.45)
      .select(least(col("ia"), col("ib")).as("ia"),
        greatest(col("ia"), col("ib")).as("ib"), round(col("cos"), 6).as("cos"))
  }

  /** q122's index half: PERSIST the IVF-PQ structure q70 builds inline —
    * centroids (k×dim), PQ codebook (m×k subvectors), and the inverted
    * file `(cid, subspace, code)` written `partitionBy(c_label)` — the
    * "build once, query forever" production shape. At 100 TB the index
    * build (two linear passes) dominates the first query by orders of
    * magnitude (the q70 10×/20× smokes measured exactly that: index
    * build grows linearly, query side stays output-bounded), so a real
    * deployment amortizes it across query batches; the saved layout IS
    * the scaladoc'd q70 claim ("at 100 TB the index would be WRITTEN
    * partitionBy(c_label)") made executable. The partition key means a
    * probe-bounded search scan prunes unprobed cells at the FILE level —
    * pinned by `IvfLayoutSpec`'s device applied to the saved directory
    * in `SimilarityOpsSpec`.
    */
  def saveIvfPqIndex(s: SparkSession, d: String, dir: String): Unit =
    saveIvfPqIndexFrom(prepped(s, d), dir)

  /** [[saveIvfPqIndex]] over an explicit prepped (vec_id, e, nrm, label)
    * frame — the seam q126's append spec builds partial indexes through.
    * Centroids are computed ONCE (persisted), written, and the SAME
    * instance drives the cell assignment (see [[rankedCellsWith]] — two
    * independent avg aggregations over doubles can differ in summation
    * order, and a value straddling the round(…, 6) boundary would desync
    * the saved inverted lists from the saved probe table).
    */
  def saveIvfPqIndexFrom(base: DataFrame, dir: String): Unit = Cached.scope { c =>
    // same rationale as q70: codebook feeds codes AND is saved; centroids
    // feed the cell assignment AND are saved
    val codebook = c.hold(pqCodebook(base))
    val centroids = c.hold(centroidsOf(base))
    val lists = rankedCellsWith(base, centroids, Seq("e"))
      .filter(col("rn") === 1)
      .select(col("c_label"), col("vec_id").as("cid"))
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    codebook.write.mode("overwrite").parquet(s"$dir/codebook")
    pqCodes(base, codebook)
      .select(col("vec_id").as("cid"),
        col("subspace").cast("int").as("subspace"),
        col("code").cast("int").as("code"))
      .join(lists, "cid")
      .write.mode("overwrite").partitionBy("c_label")
      .parquet(s"$dir/codes")
    // unique build stamp: the maintenance memos key on (path, build id)
    // so a delete-and-rebuild at the same path invalidates them
    // (path-alone keys went stale on path reuse within one JVM)
    IvfPqIndexStore.writeBuildId(base.sparkSession, dir)
  }

  /** q133: REBUILD-AND-SWAP — the actuator for q127's `rebuild` flag (the
    * r13 lifecycle gap: the audit, the append crash window, and the
    * ledger's one-file-per-epoch growth all deferred to "the next rebuild",
    * and none existed; re-running [[saveIvfPqIndex]] into a live directory
    * was a non-atomic clobber — a concurrent [[searchSavedIvfPq]] could
    * pair new centroids with old codes mid-swap). The rebuild retrains
    * centroids + codebook over the CURRENT lake (base + everything
    * appended since), stages a complete new set under `index.v<k>`, folds
    * the epoch ledger, and commits with ONE atomic marker create —
    * [[graft.sources.readstat.Compaction]]'s swap discipline applied to
    * the index. Readers resolve the highest committed version, so:
    *   - mid-swap they keep reading the old, internally consistent set
    *     (which the rebuild never touches; retention keeps it one version
    *     back for in-flight frames);
    *   - a crash at any point before the marker leaves an invisible
    *     staging directory the next rebuild clobbers;
    *   - the crash-window duplicate code rows from an append replay are
    *     GONE after the rebuild (codes are re-derived from the corpus);
    *   - replay detection survives the ledger fold: every applied epoch
    *     rides into the new set as a folded row, while its mass stops
    *     counting as appended (those vectors are now retrained base).
    *
    * Scale shape: exactly a fresh build — two linear corpus passes plus
    * the partitioned write — which is the cost the staleness audit (one
    * linear pass) exists to gate. The swap itself is O(1) driver fs ops.
    */
  def rebuildIvfPqIndex(s: SparkSession, d: String, dir: String): Unit =
    rebuildIvfPqIndexFrom(prepped(s, d), dir)

  /** [[rebuildIvfPqIndex]] over an explicit prepped corpus frame — the
    * seam the lifecycle spec drives crash points and reader races
    * through. `keepVersions` is the retention bar (see
    * [[IvfPqIndexStore.pruneVersions]]).
    */
  def rebuildIvfPqIndexFrom(corpus: DataFrame, dir: String,
      keepVersions: Int = 1): Unit = {
    val s = corpus.sparkSession
    // the rebuild claims the SAME single-writer lease a maintainer holds
    // (r14 review): requireNoLease alone excluded rebuild-vs-maintainer
    // but not rebuild-vs-rebuild — two overlapping rebuilds (a cron
    // --if-stale racing a manual run) would compute the same next
    // version, clobber each other's staging, and one could commit a
    // MIXED directory. One atomic lease create serializes all writers;
    // released on every exit path (a crash orphans it — the documented
    // releaseIvfPqLease recovery, same as a crashed maintainer).
    val token = s"rebuild-${java.util.UUID.randomUUID()}"
    IvfPqIndexStore.acquireLease(s, dir, token)
    try {
      val cur = IvfPqIndexStore.resolveRead(s, dir)
      val n = IvfPqIndexStore.nextVersion(s, dir)
      val vdir = s"$dir/index.v$n"
      // clobber an uncommitted leftover of a crashed attempt: it has no
      // marker, so no reader ever resolved it
      val fs = new org.apache.hadoop.fs.Path(vdir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(vdir))) fs.delete(
        new org.apache.hadoop.fs.Path(vdir), true)
      saveIvfPqIndexFrom(corpus, vdir)
      IvfPqIndexStore.foldLedgerInto(s, cur, vdir)
      IvfPqIndexStore.commit(s, vdir)
      IvfPqIndexStore.pruneVersions(s, dir, keepVersions)
    } finally IvfPqIndexStore.releaseLease(s, dir)
  }

  /** q126: INCREMENTAL index maintenance — append a batch of new vectors
    * to a saved IVF-PQ index with NO rebuild (q112's delta discipline
    * applied to the ANN index). New vectors are assigned to the SAVED
    * centroids (same rounded-dot ranking convention, read back from
    * parquet — doubles round-trip bit-identically) and coded against the
    * SAVED codebook; their rows land in the inverted file via parquet
    * dynamic-partition APPEND, so only the touched c_label partitions
    * gain files and existing partitions/files are never rewritten. The
    * saved search ([[searchSavedIvfPq]]) consumes the union with zero
    * changes — append-then-search ≡ coding the union against the same
    * frozen codebooks in one shot (spec-pinned set equality on the codes
    * table AND result equality on the search).
    *
    * STALENESS: appended vectors are quantized by centroids/codebooks
    * trained before they existed. Assignment and ADC stay exact for the
    * geometry the index HAS — what degrades is quantization fit: as the
    * appended mass grows or its distribution drifts, per-subspace
    * distortion (mean `dist` from [[pqCodes]]) rises relative to a
    * retrain, and recall at fixed nProbes follows. The production policy
    * this models: track appended fraction + distortion, rebuild (q122's
    * build half) when either crosses its bar; the append path makes the
    * index CURRENT between rebuilds, it does not make retraining free.
    *
    * Scale shape: broadcast saved centroids/codebook against the BATCH
    * only (no corpus pass — cost is |batch| dots), one argmin exchange,
    * one partition-pruned append write. Holds at 100 TB with daily
    * batches: the inverted file grows by exactly the batch's rows.
    */
  def appendToIvfPqIndex(s: SparkSession, newVecs: DataFrame, dir: String): Unit =
    // resolve to the current committed version set (r14): after a rebuild,
    // appends must code against the RETRAINED centroids/codebook and land
    // in the new set's inverted file, never the retired one's
    appendToIvfPqIndexResolved(s, newVecs, IvfPqIndexStore.resolveRead(s, dir))

  /** [[appendToIvfPqIndex]] against an ALREADY-RESOLVED version set —
    * the maintenance sink's entry (r14 review): appendEpoch resolves ONCE
    * and threads the same set to the codes append and the ledger write,
    * so a rebuild committing mid-append can never split one epoch across
    * two versions (codes in the new set, ledger row in the folded old
    * one — which would un-record the epoch and miscount its mass).
    */
  private[graft] def appendToIvfPqIndexResolved(s: SparkSession,
      newVecs: DataFrame, rdir: String): Unit = {
    val centroids = s.read.parquet(s"$rdir/centroids")
    val codebook = s.read.parquet(s"$rdir/codebook")
    val lists = rankedCellsWith(newVecs, centroids, Seq("e"))
      .filter(col("rn") === 1)
      .select(col("c_label"), col("vec_id").as("cid"))
    pqCodes(newVecs, codebook)
      .select(col("vec_id").as("cid"),
        col("subspace").cast("int").as("subspace"),
        col("code").cast("int").as("code"))
      .join(lists, "cid")
      .write.mode("append").partitionBy("c_label")
      .parquet(s"$rdir/codes")
  }

  /** q127: IVF-PQ STALENESS AUDIT — the rebuild policy q126's scaladoc
    * documents, made executable over a saved index. Appended vectors are
    * quantized by centroids/codebooks trained before they existed, so
    * index health is two measurable quantities:
    *
    *   - appended-mass fraction: the share of indexed vectors that entered
    *     via append (cohort from `cohortFilter` over cid — in production
    *     this is partition/file lineage; the fixture uses q126's split);
    *   - quantization distortion by cohort: each indexed row's ASSIGNED
    *     codeword (read back from the saved inverted file — the audit
    *     checks the index as it IS, it does not re-derive assignments)
    *     is re-scored against the vector's subvector with the exact q61
    *     rounded squared-L2, and cohorts compare on mean distortion.
    *
    * `rebuild` flags when either bar trips: appended fraction past
    * `fracBar`, or append-cohort mean distortion past `distBar`× the
    * build cohort's (no append cohort → healthy by definition). All
    * cross-engine comparisons run on 6-decimal-rounded per-row distances
    * summed then rounded to 4 (the reorder error of a 10⁴-term sum of
    * rounded values is ~1e-8 — far inside the rounding), and the means
    * divide those agreed sums, so the flag is engine-stable.
    *
    * Scale shape: codes ⋈ corpus is one cid-keyed exchange (the inverted
    * file and the corpus are both linear), the codebook is broadcast, and
    * everything after is a 2-row aggregate — the audit costs one linear
    * pass, which is why it can run on a schedule while the rebuild it
    * gates costs two corpus passes plus the write.
    */
  def ivfPqStalenessAudit(s: SparkSession, d: String, dir: String,
      cohortFilter: String = q126BatchFilter,
      fracBar: Double = 0.3, distBar: Double = 1.5): DataFrame =
    ivfPqStalenessAuditFrom(prepped(s, d), dir, cohortFilter, fracBar, distBar)

  /** [[ivfPqStalenessAudit]] over an explicit prepped corpus frame — the
    * seam the drift spec drives with a planted distribution shift.
    */
  private[operators] def ivfPqStalenessAuditFrom(corpus: DataFrame, dir: String,
      cohortFilter: String, fracBar: Double, distBar: Double): DataFrame =
    // the cohort predicate evaluates on the CORPUS frame, where `vec_id`
    // still exists — renaming after, not rewriting the SQL text (a textual
    // vec_id→cid replace would corrupt any filter whose text merely
    // CONTAINS "vec_id", e.g. a lineage column "vec_id_batch")
    stalenessAuditOf(corpus.select(col("vec_id").as("cid"), col("e"),
      when(expr(cohortFilter), "append").otherwise("build").as("cohort")),
      IvfPqIndexStore.resolveRead(corpus.sparkSession, dir), fracBar, distBar)

  /** [[ivfPqStalenessAudit]] with the append cohort derived from the
    * maintenance LEDGER instead of a caller-supplied lineage predicate
    * (r14): the unfolded ledger cids ARE the appended mass, which is
    * exactly the lineage a streaming deployment has — and it RESETS at
    * every rebuild (the fold marks those epochs retrained), so the
    * audit→rebuild loop ([[rebuildIfStale]]) converges instead of
    * re-flagging forever on a static cohort filter. No ledger (a
    * fresh/batch-only index) means no append cohort: healthy by
    * definition, the q127 contract.
    */
  def ivfPqLedgerStalenessAudit(corpus: DataFrame, dir: String,
      fracBar: Double = 0.3, distBar: Double = 1.5): DataFrame = {
    val s = corpus.sparkSession
    val rdir = IvfPqIndexStore.resolveRead(s, dir)
    val appended = IvfPqIndexStore.readLedger(s, rdir) match {
      case None => s.range(0).select(col("id").as("cid"))
      case Some(led) => led.filter(!col("folded") && col("cid").isNotNull)
        .select("cid").distinct()
    }
    val vecs = corpus.select(col("vec_id").as("cid"), col("e"))
      .join(appended.withColumn("app", lit(1L)), Seq("cid"), "left")
      .select(col("cid"), col("e"),
        when(col("app").isNotNull, "append").otherwise("build").as("cohort"))
    // the SAME resolved set the cohort came from (r14 review): resolving
    // again inside the scorer could straddle a concurrent rebuild commit —
    // the old ledger's cohort scored against the NEW retrained codes would
    // flag a phantom append cohort and re-trigger the rebuild it follows
    stalenessAuditOf(vecs, rdir, fracBar, distBar)
  }

  /** q135: INDEX-SERVED near-dup verdict for an arriving cohort — "is
    * this new vector semantically near something ALREADY indexed?",
    * answered from the maintained IVF-PQ index instead of a corpus pass
    * (SemDeDup's question at the ingest edge, priced like a search). Each
    * q126-batch vector probes the saved index and reports its nearest
    * BASE neighbor by ADC distance; the caller applies its dedup bar —
    * [[graft.streaming.IndexMaintenance.annAdmissionSink]] is exactly
    * that caller, one definition away, so the streaming admission
    * decision and this auditable batch verdict can never drift.
    *
    * Scale shape: the arriving cohort is batch-sized (a daily dump), so
    * probes/LUT are batch-bounded; the codes scan is partition-pruned to
    * probed cells; the ADC join exchanges on (c_label, subspace, code).
    * Cost is one SEARCH per arrival — |batch| × probed-cell size, never a
    * corpus re-pass — the whole point of serving dedup from the index
    * q122 built, q126 appended, q127 audited and q133 rebuilds. At 100 TB
    * the cell COUNT must grow with the corpus (size k_cells ≈
    * corpus/target-cell-size at build/rebuild time — the fixture's 10
    * label cells are a fixture artifact) so probed-cell size stays
    * constant and the search stays linear in the batch; the 20× smoke
    * documents the fixed-cell-count quadratic this avoids.
    */
  def indexNearDupBatch(s: SparkSession, d: String): DataFrame = {
    val dir = ensureQ126Index(s, d)
    val q = prepped(s, d).filter(expr(q126BatchFilter))
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    // candidate side = the PRE-EXISTING cohort: DERIVED from
    // q126BatchFilter (r14 review — an independent textual copy would let
    // a cohort redefinition drift operator and oracle together while the
    // hash pin kept passing). The rename is safe here because the
    // constant is a fixed expression over the bare column (the
    // lineage-column caveat at ivfPqStalenessAuditFrom does not apply).
    //
    // broadcastLut = false: a BATCH-sized query side means a
    // |batch|-bounded LUT-map table — the r16 array formulation's
    // shuffle join exchanges the probe fan-out on qid (even by hash at
    // any batch size) instead of shipping a growing broadcast with it;
    // the broadcast shape remains right for few-query serving
    // (q122/q70's path, no exchange at all). History: before r16 the
    // flag also worked around a scan-parallelism collapse under the
    // broadcast hint (one task ran 21.6 s against a 0.02 s stage
    // median at 10×); the explicit post-pivot repartition inside
    // searchSavedIvfPqFor now pins that task count on BOTH shapes.
    searchSavedIvfPqFor(q, dir, nProbes = 2, k = 1,
      candFilter = !expr(q135CandCohort("cid")), broadcastLut = false)
  }

  /** q126's batch-cohort predicate re-keyed onto a candidate column —
    * ONE derivation feeding both q135's operator and its oracle.
    */
  private def q135CandCohort(cidCol: String): String = {
    require(q126BatchFilter.contains("vec_id"),
      s"q126BatchFilter no longer names vec_id: $q126BatchFilter")
    q126BatchFilter.replace("vec_id", cidCol)
  }

  /** The CLOSED maintenance loop — q127's flag wired to q133's actuator:
    * run the ledger-cohort staleness audit and, when the rebuild flag
    * fires (appended mass past `fracBar` or append-cohort distortion past
    * `distBar`× build's), actuate [[rebuildIvfPqIndexFrom]] over the
    * current lake. Returns whether a rebuild ran. Because the audit's
    * cohort comes from the ledger and the rebuild folds it, a second call
    * right after a rebuild is healthy-by-definition — the loop converges
    * (spec-pinned for both bars). This is the scheduled batch job a
    * production deployment runs: cheap linear audit every cycle, the
    * two-pass rebuild only when a bar trips.
    */
  def rebuildIfStale(corpus: DataFrame, dir: String,
      fracBar: Double = 0.3, distBar: Double = 1.5,
      keepVersions: Int = 1): Boolean = {
    val flag = ivfPqLedgerStalenessAudit(corpus, dir, fracBar, distBar)
      .agg(coalesce(max("rebuild"), lit(0L))).collect()(0).getLong(0)
    if (flag == 1L) { rebuildIvfPqIndexFrom(corpus, dir, keepVersions); true }
    else false
  }

  /** The audit's scoring core over an explicit (cid, e, cohort) frame and
    * an ALREADY-RESOLVED version set — shared by the filter-cohort and
    * ledger-cohort entries so the two can never drift on the distortion
    * arithmetic, and resolved exactly once by each caller so cohort and
    * scored index always come from the same set.
    */
  private def stalenessAuditOf(vecs: DataFrame, rdir: String,
      fracBar: Double, distBar: Double): DataFrame = {
    val s = vecs.sparkSession
    // duplicate-tolerant read (r13 ADVICE), now CONDITIONAL (r15, the q127
    // ×2.3 fix): an append replay's crash window leaves exact-duplicate
    // (cid, subspace, code) rows, and the audit's n_rows/sum_dist must
    // describe the index's VECTORS, not its storage accidents — but that
    // window stamps the set's dup-exposure flag precisely
    // ([[IvfPqIndexStore.applyEpochOnce]]'s inflight-marker protocol), so
    // the full-table dedup exchange is paid ONLY on exposed sets; a clean
    // set (every fresh build, every rebuilt/compacted version, every set
    // whose appends all completed) reads straight through
    val codes0 = s.read.parquet(s"$rdir/codes")
    val codes =
      if (IvfPqIndexStore.dupsPossible(s, rdir)) codes0.dropDuplicates("cid", "subspace")
      else codes0
    val codebook = s.read.parquet(s"$rdir/codebook")
    val scored = codes.join(vecs, "cid")
      .join(broadcast(codebook), Seq("subspace", "code"))
      .withColumn("svec", expr(s"slice(e, subspace * $pqSub + 1, $pqSub)"))
      .withColumn("dist", rSqDist("svec", "cvec"))
    val stats = scored.groupBy("cohort").agg(
      countDistinct("cid").as("n_vecs"),
      count(lit(1)).as("n_rows"),
      round(sum("dist"), 4).as("sum_dist"))
    val totals = stats.agg(
      sum("n_vecs").as("total_vecs"),
      max(when(col("cohort") === "append", col("n_vecs"))).as("a_vecs"),
      max(when(col("cohort") === "append", col("sum_dist"))).as("a_sum"),
      max(when(col("cohort") === "append", col("n_rows"))).as("a_rows"),
      max(when(col("cohort") === "build", col("sum_dist"))).as("b_sum"),
      max(when(col("cohort") === "build", col("n_rows"))).as("b_rows"))
    stats.crossJoin(broadcast(totals))
      .select(col("cohort"), col("n_vecs"), col("n_rows"), col("sum_dist"),
        round(col("n_vecs").cast("double") / col("total_vecs"), 6).as("vec_frac"),
        coalesce(
          coalesce(col("a_vecs").cast("double") / col("total_vecs"), lit(0.0)) > fracBar ||
            coalesce(col("a_sum") / col("a_rows"), lit(0.0)) >
              lit(distBar) * (col("b_sum") / col("b_rows")),
          lit(false)).cast("long").as("rebuild"))
      .orderBy("cohort")
  }

  /** q129: ANN RECALL AUDIT — the q111 discipline (LSH recall measured
    * against exact truth, per deployment sign-off) applied to the IVF-PQ
    * index: how many of the exact squared-L2 top-k does the saved index's
    * ADC search actually return? q111 audits the CANDIDATE stage of the
    * text near-dup chain; this audits the quantized SEARCH — the number a
    * production ANN deployment tracks against its recall SLO, and the
    * second input (besides q127's distortion) to the rebuild/re-probe
    * decision: recall degrading at fixed nProbes says widen probes or
    * retrain.
    *
    * Exact truth is the brute-force rounded squared L2 top-k per query
    * (ties broken on cid — the shared convention), the metric ADC
    * approximates; hits are counted by (qid, cid) identity. Scale shape:
    * the ANN side is the saved search (probe-bounded); the exact side is
    * q37's broadcast-probe class — |queries| × corpus row-local distances
    * with a per-query top-k, linear in the corpus and sample-driven at
    * 100 TB exactly like q111's truth side.
    */
  def annRecallAudit(s: SparkSession, d: String, dir: String,
      k: Int = 5): DataFrame = {
    val ann = searchSavedIvfPq(s, d, dir, nProbes = 2, k = k)
      .select(col("qid"), col("cid"), lit(1L).as("hit"))
    val base = prepped(s, d)
    val q = base.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val c = base.select(col("vec_id").as("cid"), col("e").as("ce"))
    val scored = c.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("dist", rSqDist("qe", "ce"))
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("cid"))
    val exact = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"))
    exact.join(ann, Seq("qid", "cid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("ann_hits"),
        count(lit(1)).as("k"))
      .select(col("qid"), col("ann_hits"), col("k"),
        round(col("ann_hits").cast("double") / col("k"), 6).as("recall"))
      .orderBy("qid")
  }

  /** q122's search half: q70's ADC search driven ENTIRELY from the saved
    * index — centroids, codebook, and codes are read back from parquet,
    * nothing is recomputed from the corpus except the query vectors
    * themselves. Probe ranking reuses q70's exact convention (rounded
    * dot desc, c_label tie-break) against the SAVED centroids, the LUT
    * is built against the SAVED codebook, and the `(c_label, subspace,
    * code)` broadcast-hash join drops unprobed cells' rows — on the
    * partitioned layout that pruning happens at the scan (partition
    * filters), not just at the join. Saved-vs-inline equality is exact:
    * parquet round-trips doubles bit-identically and every operation
    * downstream is the same rounded arithmetic, so q122 shares q70's
    * oracle text verbatim.
    */
  def searchSavedIvfPq(s: SparkSession, d: String, indexDir: String,
      nProbes: Int = 2, k: Int = 5): DataFrame =
    searchSavedIvfPqFor(
      prepped(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("e").as("qe")),
      indexDir, nProbes, k)

  /** q145: REFINED IVF-PQ SEARCH — the ADC-shortlist + exact-re-rank
    * serving architecture [Jégou/Douze/Schmid, TPAMI'11 §VI-E: asymmetric
    * distance shortlists a candidate set, exact distances re-order it].
    * The saved index's ADC search over-fetches k×`overFetch` candidates
    * per query; the shortlist's RAW vectors are read back (a cid-keyed
    * point read bounded by |queries|·k·overFetch — the q137/q143
    * point-read discipline, candidates broadcast, never the corpus) and
    * re-ranked by the exact rounded squared L2. The result carries exact
    * distances and equals the exact top-k wherever the true top-k lies
    * inside the ADC window — quantization error is confined to window
    * MEMBERSHIP, with nProbes/overFetch the recall knobs (q137's measured
    * monotone-conversion property, now on the search surface itself).
    *
    * Scale shape: the ADC search is probe-bounded (see
    * [[searchSavedIvfPqFor]]); the refine joins the shortlist against the
    * corpus ONCE (broadcast shortlist — at lake scale a sorted/bucketed
    * point read) and re-ranks |queries|·k·overFetch rows with a
    * WindowGroupLimit. The exact arithmetic is the q129 exact side's
    * rounded zip_with sum — one definition class, oracle-stable.
    */
  def searchSavedIvfPqReranked(s: SparkSession, d: String, indexDir: String,
      nProbes: Int = 2, k: Int = 5, overFetch: Int = 4): DataFrame = {
    val base = prepped(s, d)
    val q = base.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val hits = searchSavedIvfPqFor(q, indexDir, nProbes, k * overFetch)
    val vecs = base.select(col("vec_id").as("cid"), col("e").as("ce"))
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("cid"))
    vecs.join(broadcast(hits.select("qid", "cid")), "cid")
      .join(broadcast(q), "qid")
      .withColumn("dist", rSqDist("qe", "ce"))
      .withColumn("rn2", row_number().over(w))
      .filter(col("rn2") <= k)
      .select(col("qid"), col("cid"), col("dist"),
        col("rn2").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** [[searchSavedIvfPq]] over an EXPLICIT query frame (qid, qe) with an
    * optional predicate on the candidate side's `cid` (r14): the seam
    * behind q135's index-served near-dup verdict and the streaming ANN
    * admission gate — both need "search the maintained index for THESE
    * vectors against THAT cohort", not the fixture's 3-probe demo. The
    * index is resolved per call, so a caller holding only the top
    * directory always searches the highest COMMITTED version — a
    * mid-stream rebuild swap is picked up at the next trigger.
    *
    * Scale shape (reworked r16 — the r15 verdict's #1): centroids/codebook
    * broadcasts are k×dim / m×k (tiny); the probe ranking and the
    * per-query LUT are |queries|-bounded; the codes scan is
    * partition-pruned to probed cells (left-semi against the distinct
    * probed cells — partition filters on the partitionBy(c_label)
    * layout). The ADC itself is the ARRAY formulation: each candidate's m
    * codes pivot into ONE slot array and each query's m×k LUT into ONE
    * map, so the probe fan-out materializes |queries|/cell × cell-size
    * rows ONCE — not ×m rows — and the distance is a row-local m-term
    * fold with no (qid, cid, subspace) exchange at all. The long-format
    * predecessor shuffled m× that row count through two aggregation
    * exchanges, which was ~95% of q135's smoke wall (the r15 verdict's
    * wall-dominance finding: 32 even tasks of 37–55 s each in one wave).
    * The pivoted candidate table is explicitly repartitioned: its BYTES
    * are cell-bounded-tiny while its downstream fan-out is compute-bound,
    * exactly the size-based-scheduling blind spot [[rpLshCandidates]]
    * documents — AQE would coalesce the stage into a handful of tasks
    * that then carry the whole fan-out.
    *
    * `broadcastLut = true` ships the |queries|×1 LUT-map rows with the
    * fan-out (right for trigger/daily-dump query sets; m×k×16 B ≈ 1.3 KB
    * per query); `false` (q135's batch-sized cohorts) lets the planner
    * exchange the fan-out on qid instead. The probes frame
    * (|queries|×nProbes id pairs) broadcasts unconditionally — corpus-
    * sized QUERY sets are out of contract here (use the batch operators).
    */
  def searchSavedIvfPqFor(queries: DataFrame, indexDir: String,
      nProbes: Int = 2, k: Int = 5, candFilter: Column = lit(true),
      broadcastLut: Boolean = true): DataFrame = {
    require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
    val s = queries.sparkSession
    VectorFunctions.register(s)
    // highest committed version set (r14): the rebuild's atomic-swap
    // contract — this resolution is the reader half
    val rdir = IvfPqIndexStore.resolveRead(s, indexDir)
    val centroids = s.read.parquet(s"$rdir/centroids")
    val codebook = s.read.parquet(s"$rdir/codebook")
    val codes = s.read.parquet(s"$rdir/codes").filter(candFilter)
    val q = queries.select(col("qid"), col("qe"))
    val scored = q.join(broadcast(centroids))
      .withColumn("r_dot", round(expr("graft_dot(qe, ce)"), 6))
    val pw = Window.partitionBy("qid")
      .orderBy(desc_nulls_last("r_dot"), col("c_label"))
    val probes = scored.withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nProbes).select("c_label", "qid")
    // per-query ADC table as ONE dense (subspace, code)-ordered
    // ARRAY<DOUBLE> — the same rounded values the long-format LUT
    // carried, laid out for graft_adc_sum's O(1) indexed loads (the
    // codebook is a complete m×k grid, so the sort IS the dense layout)
    val lut = q.join(broadcast(codebook))
      .withColumn("qsub", expr(s"slice(qe, subspace * $pqSub + 1, $pqSub)"))
      .withColumn("qdist", rSqDist("qsub", "cvec"))
      .groupBy("qid")
      .agg(expr(
        "transform(array_sort(collect_list(struct(subspace, code, qdist)))," +
          " t -> t.qdist)").as("lut"))
    val probeCells = probes.select("c_label").distinct()
    // duplicate-TOLERANT pivot (r13's crash-window contract, carried into
    // the array formulation): a replayed append can leave a vector with
    // two IDENTICAL (subspace, code) rows — under the old plain sum those
    // doubled its distance and evicted it from every top-k. The min-agg
    // collapses exact duplicates (replay rows are byte-identical, so min
    // of equals is the value) before the code-array pivot, making
    // double-append a no-op at the search.
    val codeArrs = codes
      .join(broadcast(probeCells), Seq("c_label"), "left_semi")
      .groupBy(col("cid"), col("c_label"), col("subspace"))
      .agg(min("code").as("code"))
      .groupBy("cid", "c_label")
      .agg(expr(
        "transform(array_sort(collect_list(struct(subspace, code)))," +
          " p -> CAST(p.code AS INT))").as("codes"))
      // see scaladoc: byte-tiny, fan-out-heavy — pin the task count past
      // AQE's size-based coalesce (explicit numPartitions is respected)
      .repartition(fanPartitions(s), col("cid"))
    val cands = codeArrs.join(broadcast(probes), "c_label")
      .filter(col("cid") =!= col("qid"))
    val withLut =
      if (broadcastLut) cands.join(broadcast(lut), "qid")
      // same pinning on the shuffle-lut path's qid exchange: the fold +
      // per-query top-k stage downstream is compute-bound on byte-modest
      // input, and at shuffle.partitions (= core count here) it is ONE
      // wave of long tasks — the wall-dominance shape the smoke gates on.
      // BOTH sides repartition explicitly: under AQE the smaller side's
      // aggregation stage materializes first at the default width, and a
      // one-sided pin is then conformed DOWN to that materialized stage
      // instead of the stage up to the pin (measured: the qid exchange
      // re-planned to 32 with the pin on one side only).
      else cands.repartition(fanPartitions(s), col("qid"))
        .join(lut.repartition(fanPartitions(s), col("qid")), "qid")
    // fixed ascending-subspace fold of the same 6-rounded addends the
    // aggregate formulation summed — the 6-rounded total is order-stable
    // (the oracle-parity argument all ADC queries already rely on).
    // graft_adc_sum is the codegen'd tight loop; see [[AdcSum]] for why
    // the higher-order-function formulation was the whole q135 wall.
    val adist = withLut
      .withColumn("adist",
        round(call_function("graft_adc_sum", col("codes"), col("lut")), 6))
      .select("qid", "cid", "adist")
    val tw = Window.partitionBy("qid").orderBy(col("adist"), col("cid"))
    adist.withColumn("rn", row_number().over(tw))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("adist"), col("rn").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** q123's operator body: prototype-ranked data selection [Sorscher et
    * al., NeurIPS'22 "Beyond neural scaling laws" §3 — prototypicality =
    * distance to the assigned cluster centroid; SemDeDup's sibling verb,
    * used by DataComp-LM-class pipelines as the SELECT step after dedup].
    * Every vector is assigned to its nearest seed centroid by rounded
    * squared L2 (q72's assignment device — a map-side-combinable
    * min(struct) argmin, no window) and ranked WITHIN its cluster by
    * (dist asc, vec_id): rank 1 is the cluster's most prototypical
    * member. `keep` flags the kKeep easiest (closest) per cluster — the
    * scarce-data end of the paper's pruning rule; the abundant-data end
    * (keep the HARDEST) is the same table read from the other side, so
    * the audit shape (all rows, rank + flag — q73's convention) serves
    * both without re-running anything.
    *
    * Scale shape: broadcast k×dim centroids, one argmin exchange on
    * vec_id, one rank exchange on c_label. The per-cluster window sorts
    * corpus/k rows in one task — the q103 hot-stratum class; at 100 TB
    * the same escape applies verbatim: prefilter with a per-cluster
    * approximate distance quantile (percentile_approx at ~kKeep/|cell|)
    * so the exact rank runs over a kKeep-bounded sliver, set-equal by
    * the q103 argument (any vector past the quantile bar cannot rank
    * ≤ kKeep).
    */
  def prototypeSelect(base: DataFrame, kKeep: Int = 20): DataFrame = {
    val w = Window.partitionBy("c_label").orderBy(col("dist"), col("vec_id"))
    protoAssigned(base)
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .select(col("vec_id"), col("c_label").cast("long").as("c_label"),
        col("dist"), col("proto_rank"),
        (col("proto_rank") <= kKeep).cast("long").as("keep"))
      .orderBy("c_label", "proto_rank")
  }

  /** q123's assignment stage, shared with q124: nearest seed centroid by
    * rounded squared L2 (q72's map-side-combinable min(struct) argmin).
    */
  private def protoAssigned(base: DataFrame): DataFrame =
    base.select(col("vec_id"), col("e"))
      .join(broadcast(centroidsOf(base)))
      .withColumn("dist", rSqDist("e", "ce"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("c_label"))).as("best"))
      .select(col("vec_id"), col("best.c_label").as("c_label"),
        col("best.dist").as("dist"))

  /** q124's operator body: q123's SELECTION half as its own query — only
    * the kKeep keepers per cluster, no audit rows. The shape difference
    * is the scale story, not a convenience: q123's all-rows audit must
    * rank EVERY vector, so its per-cluster window sorts corpus/k rows in
    * one task (the q103 hot-stratum hazard, quantile-prefilter escape
    * documented there). Filtering on the rank INSIDE the query instead
    * lets Spark's InferWindowGroupLimit plant a map-side group top-k
    * (`WindowGroupLimit`, the device the q103 hot-source smoke measured
    * BEATING the manual prefilter 0.84 s vs 3.9 s): every map task keeps
    * only its kKeep smallest per cluster, so the hot cluster's sort sees
    * ≤ kKeep × maps rows instead of corpus/k. The plan pin in
    * SimilarityOpsSpec is the claim made executable; rows are exactly
    * q123 ∩ keep=1 (same ranks, spec-pinned).
    */
  def prototypeSelectTop(base: DataFrame, kKeep: Int = 20): DataFrame = {
    val w = Window.partitionBy("c_label").orderBy(col("dist"), col("vec_id"))
    protoAssigned(base)
      .withColumn("proto_rank", row_number().over(w))
      .filter(col("proto_rank") <= kKeep)
      .select(col("vec_id"), col("c_label").cast("long").as("c_label"),
        col("dist"), col("proto_rank").cast("long").as("proto_rank"))
      .orderBy("c_label", "proto_rank")
  }

  /** q137's operator body: HARD-NEGATIVE MINING for contrastive training
    * (Karpukhin et al. 2020, DPR §4.2 — the negatives that matter are the
    * ones RETRIEVED near the query, not random draws; Qu et al. 2021,
    * RocketQA §3.2 — denoise mined negatives that are actually unlabeled
    * positives). For each query vector, the top-k most-cosine-similar
    * candidates whose LABEL differs from the query's: the
    * decision-boundary neighbors that carry the most contrastive
    * gradient. Each negative also reports its MARGIN against the query's
    * best positive (max cosine over same-label candidates, the labeled
    * relevance stand-in): `margin_micro` > 0 (`suspect_false_neg` = 1)
    * means the "negative" outscores every labeled positive — more likely
    * an unlabeled positive than a true negative, the exact rows
    * RocketQA's denoising drops before training. A query whose label has
    * no other member has no positive: margin and flag are NULL, not 0 —
    * "no evidence", which a downstream filter must treat differently
    * from "safe".
    *
    * Engine-exactness: cosines are the q37 device (6-decimal round,
    * deterministic (cos desc, cid) tiebreak); the margin is the INTEGER
    * difference of the two micro-scaled cosines (the q69 micro-bit
    * discipline), so no float subtraction can disagree across engines.
    *
    * Scale shape: the query side is a training batch / probe set —
    * bounded by construction — and BROADCASTS; the candidate side is one
    * linear scan with per-row norms computed once (q37's plan). Two
    * consumers read that scan and each stays linear: the negative
    * top-k is a rank-≤-k window on (qid), which
    * InferWindowGroupLimit turns into a map-side group top-k (the q124
    * pin, plan-pinned in HardNegativesSpec), and the best-positive is a
    * partial-agg max over the same-label sliver (no sort, |queries|
    * rows out). Deliberately NO persist of the scored stream: it is
    * corpus×|queries|-sized, so re-scanning twice beats caching it at
    * any real scale. At index scale the same verb is served by the
    * maintained IVF-PQ index — [[hardNegativesIndexServed]]: over-fetch
    * k×`overFetch` by ADC distance, anti-filter on label, re-rank —
    * with agreement vs this exact miner pinned in HardNegativesSpec.
    */
  /** Broadcast-query label-carrying cosine stream shared by q137 and
    * q142 — ONE definition of the scoring device (the q37 rounding,
    * once-per-row norms, (cos desc, cid) downstream tiebreak): rows
    * (qid, qlabel, cid, clabel, cos) for every candidate ≠ query. The
    * stream is corpus×|queries|-sized and callers deliberately re-scan
    * it rather than persist (see q137's scaladoc).
    */
  private def scoredAgainstQueries(s: SparkSession, d: String,
      nQueries: Long): DataFrame = {
    val base = prepped(s, d)
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("e").as("qe"), col("nrm").as("qn"))
    base.select(col("vec_id").as("cid"), col("label").as("clabel"),
        col("e").as("ce"), col("nrm").as("cn"))
      .join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("cos",
        round(expr("graft_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .select("qid", "qlabel", "cid", "clabel", "cos")
  }

  def hardNegatives(s: SparkSession, d: String, nQueries: Long = 8L,
      k: Int = 5): DataFrame = {
    val scored = scoredAgainstQueries(s, d, nQueries)
    val bestPos = scored.filter(col("clabel") === col("qlabel"))
      .groupBy("qid").agg(max("cos").as("best_pos"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
    scored.filter(col("clabel") =!= col("qlabel"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .join(bestPos, Seq("qid"), "left")
      .select(col("qid"), col("cid").as("neg_id"), col("cos"),
        col("rn").cast("long").as("rn"),
        (round(col("cos") * 1e6, 0).cast("long") -
          round(col("best_pos") * 1e6, 0).cast("long")).as("margin_micro"),
        (col("cos") > col("best_pos")).cast("long").as("suspect_false_neg"))
      .orderBy("qid", "rn")
  }

  /** [[hardNegatives]] served by the MAINTAINED IVF-PQ index — the 100 TB
    * path: mining negatives for every training query with a brute-force
    * corpus scan per batch is exactly what the index exists to avoid.
    * Over-fetch k×`overFetch` nearest by ADC distance (the label
    * anti-filter discards an unknown number of positives from the front
    * of the list, so the raw top-k is NOT enough — the over-fetch bound
    * is the recall knob, same trade as nProbes), join true labels (the
    * index's c_label is the ASSIGNED cell, not the class), drop same-label
    * rows, then EXACT-RE-RANK the surviving sliver (r15, the r14 verdict's
    * #5): ADC rank order scrambles near-tied diffuse cosines — the
    * measured PQ plateau was 0.20 overlap with the exact miner even at
    * full probing — so the over-fetched candidates' RAW vectors are read
    * back (a cid-keyed point read bounded by |queries|·k·overFetch rows;
    * the broadcast side is the candidate sliver, never the corpus) and
    * ranked by the exact q37-rounded cosine. Served top-k now equals the
    * exact miner's wherever the true top-k lies inside the ADC over-fetch
    * window; what remains approximate is only window membership — the
    * nProbes/overFetch trade, pinned in HardNegativesSpec (the
    * surprisalSplitApprox precedent) rather than an oracle row. Measured
    * on the sf0.01 fixture: the re-rank makes overlap@5 a MONOTONE
    * function of the window (0.35 at overFetch=4 → 0.575 at 20 → 1.0 at
    * the pool bound, nProbes=4) where the ADC-ranked path was pinned at
    * 0.20 regardless — bounded extra point reads now buy exact agreement
    * instead of hitting the quantization ceiling.
    *
    * SHORTFALL CONTRACT (r14 ADVICE): a query whose over-fetch window is
    * saturated by same-label hits returns FEWER than `k` rows — the
    * anti-filter discards an unknown count and this function does not
    * probe again. Callers detect it per query as `max(rn) < k` on the
    * returned frame (ranks are dense 1..n); an under-provisioned
    * `overFetch` is the caller's knob, exactly like nProbes.
    */
  def hardNegativesIndexServed(s: SparkSession, d: String, indexDir: String,
      nQueries: Long = 8L, k: Int = 5, nProbes: Int = 4,
      overFetch: Int = 20): DataFrame = {
    val base = prepped(s, d)
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("e").as("qe"), col("nrm").as("qnrm"))
    val hits = searchSavedIvfPqFor(q.select("qid", "qe"), indexDir,
      nProbes, k * overFetch)
    // the sliver's true vectors: candidate ids broadcast against the
    // corpus — one linear scan here, a sorted/bucketed point read at lake
    // scale; the corpus is never the broadcast side
    val vecs = base.select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("e").as("ce"), col("nrm").as("cnrm"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
    vecs.join(broadcast(hits.select("qid", "cid")), "cid")
      .join(broadcast(q), "qid")
      .filter(col("clabel") =!= col("qlabel"))
      .withColumn("cos",
        round(expr("graft_dot(qe, ce)") / (col("qnrm") * col("cnrm")), 6))
      .withColumn("rn2", row_number().over(w))
      .filter(col("rn2") <= k)
      .select(col("qid"), col("cid").as("neg_id"), col("cos"),
        col("rn2").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** q139's operator body: EMBEDDING-HEALTH AUDIT — the statistics you
    * read before trusting any ANN index or cosine threshold built on a
    * vector column (Ethayarajh 2019 measured how anisotropic contextual
    * embeddings are; a mean-vector norm near the mean row norm means the
    * corpus lives in a narrow cone and every cosine is inflated). Per
    * label and for the whole corpus (`label` = −1): row-norm stats
    * (mean/min/max — catches unnormalized or zero rows before they break
    * cosine math), `mean_vec_norm` (norm of the centroid — the anisotropy
    * numerator), `anisotropy` (centroid norm / mean row norm — 0 for a
    * balanced cloud, →1 for a degenerate cone), and `participation_ratio`
    * ((Σλ)²/Σλ² over per-dimension variances, the diagonal approximation
    * of PCA effective dimensionality — d means isotropic, 1 means a
    * single direction carries everything; Gao et al. 2019's
    * representation-degeneration signal at audit cost).
    *
    * Engine-exactness: every corpus-sized sum is over INTEGERS — each
    * component is micro-scaled (`round(x·1e6)` as BIGINT) at the row, so
    * per-row norm squares, per-dimension Σx/Σx², and all label/corpus
    * rollups are exact integer arithmetic no summation order can
    * perturb; the handful of doubles (variance, PR, norms) derive from
    * those agreed integers through one fixed IEEE expression. The
    * corpus row is the integer SUM of the label rows (pooled variance
    * from pooled Σx/Σx²/n), not an average of averages.
    *
    * Scale shape: ONE pass over the vectors, ZERO corpus-sized shuffle —
    * the row-norm square is a row-local higher-order `aggregate` over
    * the array (never exploded), and the per-(label, dim) moment table
    * partial-aggregates map-side to ≤ |labels|×dim rows per task before
    * the exchange, so what shuffles is KB regardless of corpus size.
    * Everything after is arithmetic over a ≤ (|labels|+1)×dim frame.
    */
  def embeddingHealth(s: SparkSession, d: String): DataFrame = {
    val xm = "CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)"
    val rows = embeddings(s, d)
      .withColumn("nm", expr(
        s"""CAST(round(sqrt(CAST(aggregate(embedding, 0L,
           |  (acc, x) -> acc + $xm * $xm) AS DOUBLE)), 0) AS BIGINT)""".stripMargin))
      .withColumn("lbl", col("label").cast("long"))
    val normLab = rows.groupBy("lbl").agg(
      count(lit(1)).as("n"), sum("nm").as("snm"),
      min("nm").as("minm"), max("nm").as("maxm"))
    val normAll = normLab.agg(
      sum("n").as("n"), sum("snm").as("snm"),
      min("minm").as("minm"), max("maxm").as("maxm"))
      .withColumn("lbl", lit(-1L))
    val norml = normLab.unionByName(normAll)
    // sxx widens to DECIMAL(38,0) BEFORE the multiply (r14 review): v² is
    // ~1e12 per row, so a Long sum wraps silently at ~9M rows per label —
    // far under lake scale. Decimal sums stay exact to 38 digits (~1e24
    // rows) and DuckDB's HUGEINT sum is exact likewise; both sides then
    // cast the agreed integer to DOUBLE. sx keeps Long (|v| ≤ 2e6 →
    // ~4.6e12 rows of headroom per label-dim).
    val dimLab = rows
      .select(col("lbl"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("v", expr(xm))
      .groupBy("lbl", "pos")
      .agg(sum("v").as("sx"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("sxx"),
        count(lit(1)).as("nd"))
    val dimAllRows = dimLab.groupBy("pos").agg(
      sum("sx").as("sx"), sum("sxx").as("sxx"), sum("nd").as("nd"))
      .withColumn("lbl", lit(-1L))
    val dimStats = dimLab.unionByName(dimAllRows)
      .withColumn("var_u", expr(
        """CAST(round((CAST(sxx AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nd) / nd / 1e6,
          |  0) AS BIGINT)""".stripMargin))
      .withColumn("mn_u", expr(
        "CAST(round(CAST(sx AS DOUBLE) / nd, 0) AS BIGINT)"))
    val dimAgg = dimStats.groupBy("lbl").agg(
      round(when(sum(expr("var_u * var_u")) === 0, 0.0)
        .otherwise(sum("var_u").cast("double") * sum("var_u") /
          sum(expr("var_u * var_u"))), 6).as("participation_ratio"),
      (sqrt(sum(expr("mn_u * mn_u")).cast("double")) / 1e6).as("mvn_d"))
    norml.join(dimAgg, "lbl")
      .select(
        col("lbl").as("label"), col("n"),
        round(col("snm").cast("double") / col("n") / 1e6, 6).as("mean_norm"),
        round(col("minm").cast("double") / 1e6, 6).as("min_norm"),
        round(col("maxm").cast("double") / 1e6, 6).as("max_norm"),
        round(col("mvn_d"), 6).as("mean_vec_norm"),
        round(col("mvn_d") / (col("snm").cast("double") / col("n") / 1e6), 6)
          .as("anisotropy"),
        col("participation_ratio"))
      .orderBy("label")
  }

  /** q141's operator body: EMBEDDING COHORT-DRIFT REPORT — the model-free
    * sibling of q127's codebook-distortion audit, for the monitoring
    * dashboard a 24/7 index pipeline actually watches: between the BASE
    * cohort and the ARRIVING cohort (q126's split convention — one
    * definition of "appended" across q126/q127/q135/q141), per label and
    * pooled (-1): cohort counts, the arriving share, the CENTROID SHIFT
    * (L2 between the two cohort means — embedding-space translation, the
    * signal that precedes every recall regression), and the DISPERSION
    * RATIO (arriving pooled per-dim variance over base — spread change:
    * >1 the new data is more diffuse than what the centroids were
    * trained on, <1 it collapsed). q127 asks "do the CODEBOOKS still
    * fit"; this asks "did the DATA move", answerable without any index
    * artifact.
    *
    * The `drift` flag is NOISE-FLOOR-AWARE — the part naive drift
    * monitors get wrong: under a null split the two cohort means differ
    * by sampling noise alone, E‖m̄ₐ−m̄ᵦ‖² ≈ trace(Σ)·(1/nₐ+1/nᵦ), which
    * at a per-label n of ~12 is a shift of ~0.33 on unit-norm vectors —
    * any absolute bar small enough to catch real drift would fire on
    * every healthy small cohort. So the report carries `shift_noise`
    * (that floor, computed from the SAME integer moments) and flags
    * shift only past BOTH the practical-relevance bar AND 3× its own
    * noise floor; the dispersion ratio keeps the q127-style two-sided
    * band. On the fixture's null modulus split every row reads drift 0
    * (measured shift ≈ 1.0× its floor — the theory check); the spec
    * plants a genuinely translated cohort to prove the flag fires.
    *
    * Engine-exactness: the q139 device end-to-end — micro-scaled integer
    * components, per-(cohort, label, dim) integer moment rows, pooled
    * rows are integer SUMS of label rows, every double derives from
    * agreed integers through one fixed IEEE expression.
    *
    * Scale shape: ONE pass over the vectors (the cohort flag is a
    * row-local predicate), map-side partial agg to
    * ≤ 2×(labels+1)×dim rows, everything after is arithmetic on that
    * tiny frame — zero corpus-sized shuffle, the q139 claim.
    */
  def embeddingDrift(s: SparkSession, d: String,
      shiftBar: Double = 0.1, dispLo: Double = 0.5,
      dispHi: Double = 2.0): DataFrame =
    embeddingDriftFrom(
      embeddings(s, d).withColumn("arr", expr(q126BatchFilter).cast("long")),
      shiftBar, dispLo, dispHi)

  /** [[embeddingDrift]] over an explicit frame carrying its own cohort
    * flag `arr` — the seam the spec drives with a genuinely translated
    * cohort (the fixture split is null by construction).
    */
  private[graft] def embeddingDriftFrom(vecsWithCohort: DataFrame,
      shiftBar: Double = 0.1, dispLo: Double = 0.5,
      dispHi: Double = 2.0): DataFrame = {
    val dimLab = vecsWithCohort
      .withColumn("lbl", col("label").cast("long"))
      .select(col("lbl"), col("arr"),
        posexplode(expr("CAST(embedding AS ARRAY<DOUBLE>)")).as(Seq("pos", "x")))
      .withColumn("v", expr("CAST(round(x * 1e6, 0) AS BIGINT)"))
      .groupBy("lbl", "arr", "pos")
      // decimal-widened sxx — q139's overflow rationale, one discipline
      .agg(sum("v").as("sx"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("sxx"),
        count(lit(1)).as("nd"))
    val pooled = dimLab.groupBy("arr", "pos").agg(
      sum("sx").as("sx"), sum("sxx").as("sxx"), sum("nd").as("nd"))
      .withColumn("lbl", lit(-1L))
    val stats = dimLab.unionByName(pooled)
      .withColumn("mn_u", expr(
        "CAST(round(CAST(sx AS DOUBLE) / nd, 0) AS BIGINT)"))
      .withColumn("var_u", expr(
        """CAST(round((CAST(sxx AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nd) / nd / 1e6,
          |  0) AS BIGINT)""".stripMargin))
    val base = stats.filter(col("arr") === 0L)
      .select(col("lbl"), col("pos"), col("mn_u").as("mb"),
        col("var_u").as("vb"), col("nd").as("nb"))
    val arr = stats.filter(col("arr") === 1L)
      .select(col("lbl"), col("pos"), col("mn_u").as("ma"),
        col("var_u").as("va"), col("nd").as("na"))
    // FULL OUTER on (lbl, pos) (r14 review): a label present in only one
    // cohort — a brand-new label arriving, or one that vanished — is the
    // loudest drift signal there is; an inner join would silently drop
    // its report row (its mass would surface only diluted in the pooled
    // row). One-sided labels get NULL shift/noise/ratio (no comparison
    // exists) and an unconditional drift flag.
    base.join(arr, Seq("lbl", "pos"), "full_outer")
      .groupBy("lbl")
      .agg(
        coalesce(max("nb"), lit(0L)).as("n_base"),
        coalesce(max("na"), lit(0L)).as("n_arr"),
        sum(expr("(ma - mb) * (ma - mb)")).as("d2_u"),
        sum("vb").as("disp_base_u"), sum("va").as("disp_arr_u"))
      .withColumn("shift_d", sqrt(col("d2_u").cast("double")) / 1e6)
      // guarded: 1/n under ANSI throws on an empty cohort — and a noise
      // floor over a missing cohort is meaningless anyway (NULL, like
      // the shift it would have gated)
      .withColumn("noise_d", when(col("n_base") > 0L && col("n_arr") > 0L,
        sqrt(col("disp_base_u").cast("double") / 1e6 *
          (lit(1.0) / col("n_base") + lit(1.0) / col("n_arr")))))
      .withColumn("ratio_d",
        col("disp_arr_u").cast("double") / col("disp_base_u"))
      .select(
        col("lbl").as("label"),
        col("n_base"), col("n_arr"),
        round(col("n_arr").cast("double") /
          (col("n_base") + col("n_arr")), 6).as("arr_share"),
        round(col("shift_d"), 6).as("centroid_shift"),
        round(col("noise_d"), 6).as("shift_noise"),
        round(col("ratio_d"), 6).as("disp_ratio"),
        (col("n_base") === 0L || col("n_arr") === 0L ||
          (col("shift_d") > shiftBar && col("shift_d") > lit(3.0) * col("noise_d")) ||
          col("ratio_d") < dispLo || col("ratio_d") > dispHi)
          .cast("long").as("drift"))
      .orderBy("label")
  }

  /** q142's operator body: LABEL-RETRIEVAL QUALITY — the EMBEDDING-side
    * audit upstream of everything the index family measures: q129 asks
    * "does the INDEX reproduce exact search", this asks "is exact search
    * over these embeddings any good at retrieving same-label items" (the
    * question that decides whether the embedding model is fit for
    * retrieval at all, before any ANN artifact exists). Per query
    * (`vec_id` < 50, the q119 probe convention): the rank of the FIRST
    * same-label candidate under exact cosine order (cos desc, cid — the
    * q37 tiebreak), its reciprocal in micro units (the MRR contribution,
    * integer-exact), and the same-label hit count in the top 10
    * (precision@10). Per-query rows, the q73 audit-shape convention —
    * corpus aggregates (MRR, mean P@10) are one trivial roll-up the
    * consumer does.
    *
    * Scale shape — the point: first-hit rank WITHOUT a per-query
    * corpus-sized sort. A rank window partitioned by qid sorts the whole
    * candidate set in one task per query (the q103 hot-stratum hazard at
    * its worst — |corpus| rows per partition). Instead: rank algebra —
    * the best same-label candidate is a partial-agg max(struct) argmax
    * (q72's device), and its rank is 1 + COUNT of candidates ordering
    * strictly before it, a broadcast-join + conditional partial agg.
    * Both passes are linear, map-side combinable, sort-free. Only
    * precision@10 keeps a rank window — WITH the rank-≤-k filter that
    * plants the map-side `WindowGroupLimit` (the q124/q137 pin). The
    * scored stream is corpus×|queries| and deliberately uncached
    * (q137's argument).
    */
  def retrievalQuality(s: SparkSession, d: String, nQueries: Long = 50L,
      k: Int = 10): DataFrame = {
    val scored = scoredAgainstQueries(s, d, nQueries)
    val best = scored.filter(col("clabel") === col("qlabel"))
      .groupBy("qid")
      .agg(max(struct(col("cos"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("qid"), col("b.cos").as("bcos"), (-col("b.ncid")).as("bcid"))
    val ranks = scored.join(broadcast(best), Seq("qid"))
      .groupBy("qid")
      .agg(sum(when(col("cos") > col("bcos") ||
          (col("cos") === col("bcos") && col("cid") < col("bcid")), 1L)
        .otherwise(0L)).as("above"))
      .select(col("qid"), (col("above") + 1L).as("first_hit_rank"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
    val pAtK = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("qid")
      .agg(sum((col("clabel") === col("qlabel")).cast("long")).as("n_topk_hits"))
    prepped(s, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        col("label").cast("long").as("qlabel"))
      .join(ranks, Seq("qid"), "left")
      .join(pAtK, Seq("qid"), "left")
      .select(col("qid"), col("qlabel"), col("first_hit_rank"),
        expr("CAST(round(1e6 / first_hit_rank, 0) AS BIGINT)").as("rr_micro"),
        col("n_topk_hits"))
      .orderBy("qid")
  }

  /** ONE-DEFINITION vector-health verdict — q140's audit and the
    * streaming admission gate ([[graft.streaming.IndexMaintenance
    * .vectorHealthGate]]) share this exact Column, the
    * DocStreams gate discipline. The whole test hangs off ONE row-local
    * number: d2 = Σx² via a registration-free higher-order `aggregate`
    * (q139's norm-fold device — a streaming gate must not depend on
    * session UDF registration order). d2 is NaN iff any component is
    * NaN and +Inf iff any component overflows, so after the dimension
    * check a single closed interval [lo², hi²] classifies every failure:
    * nonfinite (IEEE comparison semantics exclude NaN/Inf by name
    * first), zero/deflated norm (cosine against it is undefined or
    * unstable), inflated norm (an un-normalized outlier that would
    * dominate every dot product). Row-local, zero shuffle, codegen-able.
    */
  private[graft] def vectorVerdictCol(ed: Column, dim: Int = 64,
      loNorm: Double = 0.5, hiNorm: Double = 2.0): Column = {
    val d2 = aggregate(ed, lit(0.0), (acc, x) => acc + x * x)
    when(ed.isNull, "null")
      .when(size(ed) =!= dim, "wrong_dim")
      // d2 is NULL iff some COMPONENT is null (array<double> admits null
      // elements — parquet schema drift produces them): without this arm
      // every later comparison is NULL→false and the chain would fall
      // through to 'ok', admitting an undefined-norm row (r14 review)
      .when(d2.isNull || isnan(d2) || d2 === lit(Double.PositiveInfinity),
        "nonfinite")
      .when(d2 < loNorm * loNorm, "norm_low")
      .when(d2 > hiNorm * hiNorm, "norm_high")
      .otherwise(lit("ok"))
  }

  /** q140's operator body: VECTOR-HEALTH AUDIT with planted corruption —
    * the intake-QA table for an embedding column (q139 profiles a healthy
    * column; this one CLASSIFIES the broken rows a real ingest sees:
    * truncated arrays from a schema drift, NaN from an upstream overflow,
    * zero vectors from a failed encoder call, un-normalized batches from
    * a missing post-processing step). The fixture corrupts the clean sf
    * embeddings deterministically (modulus conventions, first CASE arm
    * wins — mirrored verbatim in the oracle): dim-truncation (mod 31),
    * NaN component (mod 37), zero vector (mod 23), 10× scale (mod 29).
    * Output: per-verdict counts with min/max vec_id witnesses.
    *
    * Scale shape: verdict is [[vectorVerdictCol]] — row-local — and the
    * aggregation is ≤ 6 groups; nothing corpus-sized shuffles. The
    * streaming gate runs the SAME verdict at the ingest edge so a row
    * this audit would flag never becomes permanent index state.
    */
  def vectorHealthAudit(s: SparkSession, d: String): DataFrame = {
    val ed = "CAST(embedding AS ARRAY<DOUBLE>)"
    embeddings(s, d)
      .withColumn("e",
        when(col("vec_id") % 31 === 0, expr(s"slice($ed, 1, 32)"))
          .when(col("vec_id") % 37 === 0,
            expr(s"concat(array(CAST('NaN' AS DOUBLE)), slice($ed, 2, 63))"))
          .when(col("vec_id") % 23 === 0, expr(s"transform($ed, x -> 0.0D)"))
          .when(col("vec_id") % 29 === 0, expr(s"transform($ed, x -> x * 10.0D)"))
          .otherwise(expr(ed)))
      .withColumn("verdict", vectorVerdictCol(col("e")))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n_vecs"),
        min("vec_id").as("first_vec"), max("vec_id").as("last_vec"))
      .orderBy("verdict")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 neighbors for query vectors vec_id < 3.
    "q37_sim_topk" -> ((s, d) => {
      val base = prepped(s, d)
      val q = base.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      val c = base.select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
      val scored = c.join(broadcast(q), col("cid") =!= col("qid"))
        .withColumn("cos", round(expr("graft_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      val w = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("cid"), col("cos"), col("rn").cast("long").as("rn"))
        .orderBy("qid", "rn")
    }),

    // Embedding near-duplicate pairs: cosine ≥ 0.45.
    //
    // Scale design: an EXACT pairwise-threshold query over unclustered dense
    // vectors is inherently O(N²) compute — the scale lever is distributing
    // that work evenly, not a candidate filter that silently drops results
    // (IVF probing misses cross-cluster pairs on exactly this data; LSH at
    // θ≈63° has weak sign-hash gap). This is the 1-Bucket-Theta blocked
    // pair join [Okcan & Riedewald, SIGMOD'11]: vectors hash into B blocks,
    // each side replicates to its block-pair row, and the pair stage is an
    // equi-join on (ba, bb) — B(B+1)/2 evenly sized shuffle buckets, no
    // BroadcastNestedLoopJoin (the r1 plan audit's 100 TB veto), ~B/2×
    // replication. B scales with cluster cores via [[embeddingNeardup]]'s
    // `blocks` parameter (this entry pins the oracle's B = 8). Pipelines
    // that can tolerate approximate recall should instead compose LSH
    // candidates with an exact verifier — the q40 pattern.
    "q39_embedding_neardup" -> ((s, d) => embeddingNeardup(s, d)),

    // IVF search: queries probe their top-nProbes coarse centroids and
    // score only those clusters' inverted lists — the scale path for ANN
    // top-k (the candidate set is cluster-sized, not corpus-sized; recall
    // is the usual IVF trade governed by the probe count — see
    // [[ivfSearch]]). Build: one narrow assignment pass (broadcast k×dim
    // centroids). Search: equi-join on centroid id. The oracle pins the
    // default nProbes=2 configuration; SimilarityOpsSpec pins the
    // recall-vs-probes curve (recall(4) ≥ recall(2) ≥ floor).
    "q43_ivf_search" -> ((s, d) => ivfSearch(s, d)),

    // Random-hyperplane (sign) LSH near-dup: the bucketed scale path for
    // embedding dedup [Charikar, STOC'02]. L bands × b sign bits per
    // vector; vectors sharing a band signature become candidates (equi-join
    // on (band, signature) — bucket-sized work, never all-pairs); exact
    // cosine verifies candidates, so emitted pairs are never false
    // positives. Recall is the standard LSH trade governed by (L, b) —
    // q39's 1-Bucket-Theta remains the exact variant.
    //
    // The hyperplanes are DETERMINISTIC: component signs derive from the
    // md5 hex of "band_bit_pos" — no RNG state to ship to executors, any
    // engine reproduces the same buckets (which is what makes the DuckDB
    // oracle exact). Bit dots are rounded before the sign test so
    // cross-engine float summation order cannot flip a boundary bit.
    // DEFAULT = the auto band width (r16, with q62 — see GraphOps's q62
    // registration comment): autoBandBits floors at b0 = 8 on the oracle
    // fixtures, so the candidate set and oracle text are unchanged there.
    "q44_rp_lsh_neardup" -> ((s, d) => rpLshNearDupAutoAt(s, d, L = 6)),

    // Product-quantization code assignment — the memory side of IVF-PQ
    // ANN [Jégou et al., TPAMI'11]: the 64-dim space splits into 8
    // subspaces of 8 dims; each subvector is assigned its nearest
    // codeword by squared L2 distance, so a vector compresses to 8 small
    // codes. Codebooks here are the deterministic per-(label, subspace)
    // mean subvectors (k = 10 codewords per subspace) — the same
    // label-means device as q41/q43, which keeps the DuckDB oracle exact
    // (k-means iterations would diverge across engines).
    //
    // Scale shape: codebooks are tiny (m×k×(dim/m) values, broadcast);
    // scoring joins each vector against the 80 broadcast codebook rows
    // (per-row work only — the corpus never shuffles for scoring), and
    // the argmin is a map-side-combinable MIN of a (dist, code) struct —
    // one aggregation exchange on (vec_id, subspace), no window sort.
    // Distances are rounded before the argmin so cross-engine float
    // summation order cannot flip a near-tie; ties break on code id via
    // the struct ordering.
    "q61_pq_codes" -> ((s, d) => {
      val base = prepped(s, d)
      pqCodes(base, pqCodebook(base))
    }),

    // PQ asymmetric-distance top-k (ADC) — the query-time side of IVF-PQ:
    // queries score CODES, never raw candidate vectors. Each query
    // precomputes a lookup table (distance from its subvector to every
    // codeword — q×m×k rows, tiny, broadcast); a candidate's approximate
    // distance is then the SUM of 8 table lookups keyed by its q61 codes.
    // Scale shape: the corpus-side input is the code table (8 small rows
    // per vector — the compressed representation, which is the entire
    // memory point of PQ), joined to the broadcast LUT and aggregated
    // map-side; raw embeddings are touched only to build codebook + LUT.
    // This is the EXHAUSTIVE variant (every code row scores); q70 is the
    // IVF-bounded composition that scores only probed inverted lists —
    // q66 stays as the recall reference its specs measure against.
    "q66_pq_adc_topk" -> ((s, d) => Cached { c =>
      val base = prepped(s, d)
      // both the code-assignment branch and the query LUT consume the
      // codebook; exchange reuse does NOT collapse duplicated
      // broadcast-side subtrees here (probed empirically — unlike q59's
      // shuffle-side reuse), so the corpus aggregation under it would run
      // twice. Hold the (tiny, m×k-row) codebook instead. Filled: the lut
      // broadcast build and the main job's code assignment scan it
      // concurrently, and racing scans of an unfilled cache each re-run
      // the corpus-sized codebook aggregation.
      val codebook = c.hold(pqCodebook(base), fill = true)
      val codes = pqCodes(base, codebook)
      val lut = base.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
        .join(broadcast(codebook))
        .withColumn("qsub", expr(s"slice(qe, subspace * $pqSub + 1, $pqSub)"))
        .withColumn("qdist", rSqDist("qsub", "cvec"))
        .select("qid", "subspace", "code", "qdist")
      val adist = codes
        .select(col("vec_id").as("cid"), col("subspace").cast("int").as("subspace"),
          col("code").cast("int").as("code"))
        .join(broadcast(lut), Seq("subspace", "code"))
        .filter(col("cid") =!= col("qid"))
        .groupBy("qid", "cid")
        .agg(round(sum("qdist"), 6).as("adist"))
      val w = Window.partitionBy("qid").orderBy(col("adist"), col("cid"))
      adist.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("cid"), col("adist"), col("rn").cast("long").as("rn"))
        .orderBy("qid", "rn")
    }),

    // IVF-PQ search — the full composition: coarse cells bound the
    // candidate set (q41/q43's inverted lists), PQ codes bound the
    // per-candidate cost (q66's ADC). See [[ivfPqSearch]]; the oracle pins
    // the default nProbes=2, k=5 configuration.
    //
    // BENCH COST LABEL (r16, the r15 verdict's #5 — the q127
    // honest-composed-cost convention): each timed q70 run pays the FULL
    // inline model build (centroids + codebook + codes) plus the search —
    // ~4 s at sf0.1, build-dominated. That is the measured claim: the
    // one-shot "train, code, and search in one query" cost. The
    // amortized SERVING cost is the adjacent headline entry q122, whose
    // timed runs search the saved index (build paid once per corpus via
    // the JVM memo, outside the timed window by the warm-run convention).
    // Read q70 as build+search and q122 as search; they share one oracle
    // text because the results are identical.
    "q70_ivfpq_topk" -> ((s, d) => ivfPqSearch(s, d)),

    // Lloyd-refined coarse quantizer: one k-means iteration from the
    // deterministic label-mean seed, then the q41-style confusion count
    // against the REFINED centroids (L2 assignment, rounded-argmin struct
    // MIN). The training step q41's label means approximate — see
    // [[kmeansRefined]]; SimilarityOpsSpec pins Lloyd's monotonicity
    // (refined total distortion ≤ seed total distortion).
    "q72_kmeans_refine" -> ((s, d) => {
      val base = prepped(s, d)
      base.select(col("vec_id"), col("label"), col("e"))
        .join(broadcast(kmeansRefined(base)))
        .withColumn("dist", rSqDist("e", "ce"))
        .groupBy("vec_id", "label")
        .agg(min(struct(col("dist"), col("c_label"))).as("best"))
        .groupBy(col("label"), col("best.c_label").as("assigned"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "assigned")
    }),

    // IVF-style coarse quantizer: per-label centroids (computed distributed,
    // then broadcast as arrays), each vector assigned to its nearest
    // centroid by dot product. Output: label vs assigned confusion counts.
    "q41_ivf_assign" -> ((s, d) => {
      val base = prepped(s, d)
      rankedCells(base, Seq("label", "e"))
        .filter(col("rn") === 1)
        .groupBy(col("label"), col("c_label").as("assigned"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "assigned")
    }),

    // Int8 scalar quantization of the embedding corpus — see [[sq8Codes]]
    // for the code rule, engine-exactness argument, and scale shape (one
    // 64-key range agg + broadcast + row-local map, zero corpus shuffle).
    "q84_sq8_codes" -> ((s, d) => sq8Codes(prepped(s, d))),

    // SemDeDup: cluster-bounded semantic dedup with a deterministic
    // lowest-id keeper — see [[semDedup]] for the method citation, keeper
    // convention, and cell-bounded pair-stage scale argument.
    "q86_semdedup" -> ((s, d) => semDedup(s, d)),

    // Semantic (embedding-space) decontamination — see [[semanticDecontam]].
    "q119_semantic_decontam" -> ((s, d) => semanticDecontam(prepped(s, d))),

    // IVF-PQ index persistence: build + save the index, then run q70's
    // search ENTIRELY from the saved parquet — see [[saveIvfPqIndex]] /
    // [[searchSavedIvfPq]]. Shares q70's oracle text verbatim (the
    // round trip must be a no-op on results). NOTE (documented side
    // effect): the index WRITE runs eagerly at DataFrame-construction
    // time, ONCE per (JVM, corpus) via [[buildOnce]] — the production
    // amortization shape (r12 verdict #3): the first invocation pays
    // build+search, every later one is pure saved-index search. One temp
    // directory per (JVM, corpus), shutdown-hook-cleaned (r11 ADVICE).
    "q122_ivfpq_saved_search" -> ((s, d) => {
      val dir = ivfPqTmpDir(s"q122:$d")
      buildOnce(s"q122:$d")(saveIvfPqIndex(s, d, dir))
      searchSavedIvfPq(s, d, dir)
    }),

    // REFINED search over the same saved index (see
    // [[searchSavedIvfPqReranked]]): ADC shortlist, exact re-rank on the
    // shortlist's raw vectors — exact distances out, quantization error
    // confined to window membership. Shares q122's fixture index; the
    // oracle nests the parameterized ADC SQL at the over-fetch depth and
    // re-ranks with the q129-exact rounded squared L2.
    "q145_ivfpq_refined_search" -> ((s, d) => {
      val dir = ivfPqTmpDir(s"q122:$d")
      buildOnce(s"q122:$d")(saveIvfPqIndex(s, d, dir))
      searchSavedIvfPqReranked(s, d, dir, nProbes = q145NProbes,
        k = q145K, overFetch = q145OverFetch)
    }),

    // INCREMENTAL index maintenance (see [[appendToIvfPqIndex]]): build
    // the index on the ¾ base (vec_id % 4 != 3), append the remaining
    // quarter against the FROZEN centroids/codebook, search the union.
    // The oracle is the parameterized IVF-PQ text with model CTEs
    // trained on the base only — frozen-codebook semantics end to end.
    // Build + the ONE append run once per (JVM, corpus) ([[buildOnce]]);
    // repeated invocations search the already-appended index, which is
    // the same table the first invocation searched — idempotent.
    "q126_ivfpq_append_search" -> ((s, d) =>
      searchSavedIvfPq(s, d, ensureQ126Index(s, d))),

    // IVF-PQ staleness audit over the SAME saved+appended index q126
    // searches — appended-mass fraction, per-cohort quantization
    // distortion, and the rebuild flag. See [[ivfPqStalenessAudit]];
    // IvfPqDriftSpec plants a distribution shift that flips the flag.
    "q127_ivfpq_staleness_audit" -> ((s, d) =>
      ivfPqStalenessAudit(s, d, ensureQ126Index(s, d))),

    // ANN recall audit over the same maintained index — the measured
    // recall@k vs exact squared-L2 truth. See [[annRecallAudit]].
    "q129_ann_recall_audit" -> ((s, d) =>
      annRecallAudit(s, d, ensureQ126Index(s, d))),

    // REBUILD-AND-SWAP (the r13 verdict's top item): build stale, append
    // the drifted quarter, rebuild atomically over the union, search the
    // REBUILT set — see [[rebuildIvfPqIndex]] / [[ensureQ133Index]].
    // Retraining over base+appended is definitionally a fresh full-corpus
    // build, so the oracle is q70's text verbatim (the q122 anti-drift
    // discipline): any divergence between the swapped-in set and a fresh
    // build — stale centroids surviving the swap, a reader resolving the
    // old version after commit, duplicate rows leaking through — breaks
    // the hash.
    "q133_ivfpq_rebuild_search" -> ((s, d) =>
      searchSavedIvfPq(s, d, ensureQ133Index(s, d))),

    // Index-served near-dup verdict for the arriving cohort — the
    // maintained index answering SemDeDup's question at search cost.
    // See [[indexNearDupBatch]]; the streaming admission gate consumes
    // the same seam.
    "q135_index_neardup_batch" -> ((s, d) => indexNearDupBatch(s, d)),

    // Prototype-ranked selection (Sorscher et al.) — see
    // [[prototypeSelect]] for the method citation, keep convention, and
    // the q103 hot-cluster escape.
    "q123_prototype_select" -> ((s, d) => prototypeSelect(prepped(s, d))),

    // Selection-only prototype top-k — the WindowGroupLimit scale shape,
    // see [[prototypeSelectTop]].
    "q124_prototype_topk" -> ((s, d) => prototypeSelectTop(prepped(s, d))),

    // Hard-negative mining with the RocketQA false-negative flag — see
    // [[hardNegatives]]; [[hardNegativesIndexServed]] is the index-served
    // scale path, spec-pinned.
    "q137_hard_negatives" -> ((s, d) => hardNegatives(s, d)),

    // Embedding-health audit: norms, anisotropy, participation ratio per
    // label + corpus — see [[embeddingHealth]].
    "q139_embedding_health" -> ((s, d) => embeddingHealth(s, d)),

    // Vector-health verdict audit over planted corruption — see
    // [[vectorHealthAudit]]; the streaming gate shares the verdict.
    "q140_vector_health" -> ((s, d) => vectorHealthAudit(s, d)),

    // Cohort-drift report between base and arriving vectors (q126's
    // split) — see [[embeddingDrift]].
    "q141_embedding_drift" -> ((s, d) => embeddingDrift(s, d)),

    // Label-retrieval quality: sort-free first-hit rank + precision@10 —
    // see [[retrievalQuality]].
    "q142_retrieval_quality" -> ((s, d) => retrievalQuality(s, d))
  )

  /** q119's operator body: SEMANTIC decontamination — the embedding-space
    * complement of the n-gram family (q67/q74/q79/q115 catch literal
    * 5-gram overlap; a paraphrased or translated eval item shares no
    * surface gram yet sits next to its source in embedding space — the
    * contamination class Llama-3-era reports scrub by cosine). The eval
    * PROBE set here is the fixed-size slice `vec_id < 50` (a stand-in for
    * a real benchmark's embedded items — eval suites are fixed-size by
    * nature, which is exactly what makes this op scale); every corpus
    * vector reports its nearest probe (argmax cosine, rounded to 6 before
    * the tie-break so no cross-engine float-order boundary exists, smaller
    * probe id wins ties) and the `contaminated` flag at the deployed 0.45
    * near-dup bar (q39/q44's threshold). All corpus rows are emitted — the
    * per-doc report shape (q79's convention), so the output doubles as the
    * audit table and the drop list.
    *
    * Scale shape: the probe side is broadcast (eval benchmarks are
    * thousands of rows, not corpus-scaled — the q37 tiny-build-side BNLJ
    * class, deliberate and documented in PLANS.md); the corpus side is
    * scanned ONCE, each row scoring |probes| row-local dots, and the
    * argmax is a map-side-combinable min(struct) per vec_id — one
    * corpus-linear shuffle carrying one row per vector. For an eval set
    * too large to broadcast, the bucketed escape is q44's sign-LSH bands
    * over (corpus ∪ probes) — candidates then exact-verify, the q40
    * discipline; the broadcast path stays the default because real probe
    * sets fit in one task's memory by orders of magnitude.
    */
  def semanticDecontam(base: DataFrame, nProbes: Int = 50,
      bar: Double = 0.45): DataFrame = {
    val probes = base.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("eval_id"), col("e").as("pe"), col("nrm").as("pn"))
    val corpus = base.filter(col("vec_id") >= nProbes)
      .select(col("vec_id"), col("e"), col("nrm"))
    corpus.join(broadcast(probes), lit(true))
      .withColumn("cos", round(expr("graft_dot(e, pe)") / (col("nrm") * col("pn")), 6))
      .groupBy("vec_id")
      .agg(min(struct((-col("cos")).as("nc"), col("eval_id"))).as("best"))
      .select(col("vec_id"), col("best.eval_id").as("eval_id"),
        (-col("best.nc")).as("cos"),
        (-col("best.nc") >= bar).cast("long").as("contaminated"))
  }

  /** Driver-side probe collection for the streaming semantic gate
    * ([[graft.streaming.DocStreams.semanticDecontamGate]]): the eval
    * vectors as (double-array, norm) pairs computed with EXACTLY q119's
    * expressions — same ARRAY<DOUBLE> cast, same `graft_dot`, same
    * `sqrt` — so the gate's cosine is bit-identical to the batch
    * report's. Eval suites are fixed-size by nature, which is what makes
    * a collect here sound (the q37/q119 tiny-probe-side premise, not a
    * driver-side loop over corpus data).
    */
  def collectProbes(s: SparkSession, d: String,
      nProbes: Int = 50): Seq[(Array[Double], Double)] =
    prepped(s, d).filter(col("vec_id") < nProbes)
      .select(col("e"), col("nrm")).collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1))).toSeq

  // q61's oracle, shared so q66 can embed the code table it defines
  private val q61OracleSql: String =
    """WITH unpacked AS (
         SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
         FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
       sub AS (
         SELECT vec_id, label, pos, x, CAST(pos // 8 AS INT) AS subspace
         FROM unpacked),
       codebook AS (
         SELECT label AS code, subspace AS c_sub, pos AS c_pos, avg(x) AS cx
         FROM sub GROUP BY label, subspace, pos),
       scored AS (
         SELECT s.vec_id, s.subspace, c.code,
                round(sum((s.x - c.cx) * (s.x - c.cx)), 6) AS dist
         FROM sub s JOIN codebook c ON c.c_pos = s.pos AND c.c_sub = s.subspace
         GROUP BY s.vec_id, s.subspace, c.code),
       best AS (
         SELECT vec_id, subspace, code, dist,
           row_number() OVER (PARTITION BY vec_id, subspace
                              ORDER BY dist, code) AS rn
         FROM scored)
       SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
              CAST(code AS BIGINT) AS code, dist
       FROM best WHERE rn = 1"""

  /** The IVF-PQ search oracle, parameterized on the MODEL-TRAINING
    * subset: q70/q122 train centroids + codebook on the whole corpus
    * (`TRUE`), q126 trains on the pre-append base only (`vec_id % 4 !=
    * 3`) while assignment/coding/search still cover every vector — the
    * frozen-codebook append semantic. One authored text serves all
    * three (the q61OracleSql anti-drift discipline); with `TRUE` the
    * codes CTE is exactly q61's best-code-per-subspace on the full
    * codebook, so q70's results are unchanged by the r12
    * parameterization (CORRECTNESS hash-pins that).
    */
  private def ivfPqOracleSql(modelFilter: String,
      queryFilter: String = "vec_id < 3", candFilter: String = "TRUE",
      k: Int = 5, nProbes: Int = 2): String =
      s"""WITH unpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         model AS (SELECT * FROM unpacked WHERE $modelFilter),
         centroids AS (
           SELECT label AS c_label, pos AS c_pos, avg(x) AS cx
           FROM model GROUP BY label, pos),
         assign_scored AS (
           SELECT vec_id, c_label, round(sum(x * cx), 6) AS dot
           FROM unpacked JOIN centroids ON pos = c_pos
           GROUP BY vec_id, c_label),
         ranked AS (
           SELECT vec_id, c_label,
             row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC NULLS LAST, c_label) AS rn
           FROM assign_scored),
         lists AS (SELECT c_label, vec_id AS cid FROM ranked WHERE rn = 1),
         probes AS (SELECT c_label, vec_id AS qid FROM ranked
                    WHERE rn <= $nProbes AND ($queryFilter)),
         codebook AS (
           SELECT label AS code, CAST(pos // 8 AS INT) AS c_sub, pos AS c_pos, avg(x) AS cx
           FROM model GROUP BY label, CAST(pos // 8 AS INT), pos),
         sub AS (SELECT vec_id, CAST(pos // 8 AS INT) AS subspace, pos, x FROM unpacked),
         cscored AS (
           SELECT s.vec_id, s.subspace, c.code,
                  round(sum((s.x - c.cx) * (s.x - c.cx)), 6) AS dist
           FROM sub s JOIN codebook c ON c.c_pos = s.pos AND c.c_sub = s.subspace
           GROUP BY s.vec_id, s.subspace, c.code),
         cbest AS (
           SELECT vec_id, subspace, code,
             row_number() OVER (PARTITION BY vec_id, subspace
                                ORDER BY dist, code) AS rn
           FROM cscored),
         codes AS (SELECT vec_id AS cid, subspace, code FROM cbest WHERE rn = 1),
         listcodes AS (
           SELECT l.c_label, c.cid, c.subspace, c.code
           FROM codes c JOIN lists l USING (cid)),
         qunpacked AS (
           SELECT vec_id AS qid, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
           WHERE $queryFilter),
         lut AS (
           SELECT q.qid, c.c_sub AS subspace, c.code,
                  round(sum((q.x - c.cx) * (q.x - c.cx)), 6) AS qdist
           FROM qunpacked q JOIN codebook c ON c.c_pos = q.pos
           GROUP BY q.qid, c.c_sub, c.code),
         adist AS (
           SELECT p.qid, lc.cid, round(sum(l.qdist), 6) AS adist
           FROM probes p
           JOIN listcodes lc ON lc.c_label = p.c_label
           JOIN lut l ON l.qid = p.qid AND l.subspace = lc.subspace
                     AND l.code = lc.code
           WHERE lc.cid != p.qid AND ($candFilter)
           GROUP BY p.qid, lc.cid),
         topk AS (
           SELECT qid, cid, adist,
             row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
           FROM adist)
         SELECT qid, cid, adist, CAST(rn AS BIGINT) AS rn
         FROM topk WHERE rn <= $k ORDER BY qid, rn"""

  /** q70's oracle, shared verbatim with q122 (the saved index must
    * round-trip to IDENTICAL results).
    */
  private val q70OracleSql: String = ivfPqOracleSql("TRUE")

  /** q126's split convention: every 4th vector is the "append batch". */
  private[operators] val q126BatchFilter = "vec_id % 4 = 3"

  /** q145's knobs — ONE definition feeding the query registration and the
    * oracle's interpolated probe/shortlist depths (a drifting copy would
    * compare a probes=2, k·overFetch=20 operator against a
    * different-depth oracle and fail only on the corpora where the extra
    * candidates matter). All three interpolate into the q145 oracle via
    * [[ivfPqOracleSql]]'s parameters (r15 ADVICE: nProbes used to be a
    * hardcoded `rn <= 2` in the oracle text, desyncing on any change).
    */
  private val q145NProbes = 2
  private val q145K = 5
  private val q145OverFetch = 4

  val oracle: Map[String, String] = Map(
    "q37_sim_topk" ->
      """SELECT qid, cid, cos, rn FROM (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) DESC,
               c.vec_id) AS rn
           FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 3) t
         WHERE rn <= 5 ORDER BY qid, rn""",

    "q39_embedding_neardup" ->
      """SELECT a.vec_id AS ia, b.vec_id AS ib,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.45""",

    "q43_ivf_search" ->
      """WITH unpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         centroids AS (
           SELECT label AS c_label, pos AS c_pos, avg(x) AS cx
           FROM unpacked GROUP BY label, pos),
         assign_scored AS (
           SELECT vec_id, c_label, round(sum(x * cx), 6) AS dot
           FROM unpacked JOIN centroids ON pos = c_pos
           GROUP BY vec_id, c_label),
         ranked AS (
           SELECT vec_id, c_label,
             row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC NULLS LAST, c_label) AS rn
           FROM assign_scored),
         lists AS (SELECT c_label, vec_id AS cid FROM ranked WHERE rn = 1),
         probes AS (SELECT c_label, vec_id AS qid FROM ranked WHERE rn <= 2 AND vec_id < 3),
         pairs AS (
           SELECT DISTINCT p.qid, l.cid
           FROM probes p JOIN lists l ON l.c_label = p.c_label AND l.cid != p.qid),
         cosed AS (
           SELECT pr.qid, pr.cid,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
           FROM pairs pr
           JOIN embeddings q ON q.vec_id = pr.qid
           JOIN embeddings c ON c.vec_id = pr.cid),
         topk AS (
           SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
           FROM cosed)
         SELECT qid, cid, cos, rn FROM topk WHERE rn <= 5 ORDER BY qid, rn""",

    "q44_rp_lsh_neardup" ->
      """WITH dims AS (SELECT DISTINCT i - 1 AS pos
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         bandsbits AS (SELECT band, bit FROM range(0, 6) AS rb(band), range(0, 8) AS rt(bit)),
         planes AS (
           SELECT band, bit, pos,
             CASE WHEN substr(md5(band || '_' || bit || '_' || pos), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sgn
           FROM bandsbits, dims),
         unpacked AS (
           SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         dots AS (
           SELECT vec_id, band, bit, round(sum(x * sgn), 6) AS dot
           FROM unpacked JOIN planes USING (pos)
           GROUP BY vec_id, band, bit),
         sigs AS (
           SELECT vec_id, band,
             CAST(sum(CASE WHEN dot > 0 THEN (1 << bit) ELSE 0 END) AS BIGINT) AS sig
           FROM dots GROUP BY vec_id, band),
         cands AS (
           SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
           FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
             AND a.vec_id < b.vec_id)
         SELECT c.ia, c.ib,
           round(list_dot_product(CAST(va.embedding AS DOUBLE[]), CAST(vb.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(va.embedding AS DOUBLE[]), CAST(va.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(vb.embedding AS DOUBLE[]), CAST(vb.embedding AS DOUBLE[])))), 6) AS cos
         FROM cands c
         JOIN embeddings va ON va.vec_id = c.ia
         JOIN embeddings vb ON vb.vec_id = c.ib
         WHERE list_dot_product(CAST(va.embedding AS DOUBLE[]), CAST(vb.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(va.embedding AS DOUBLE[]), CAST(va.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(vb.embedding AS DOUBLE[]), CAST(vb.embedding AS DOUBLE[])))) >= 0.45""",

    "q61_pq_codes" -> q61OracleSql,

    "q66_pq_adc_topk" ->
      s"""WITH codes AS (
           SELECT vec_id AS cid, CAST(subspace AS INT) AS subspace,
                  CAST(code AS INT) AS code
           FROM ($q61OracleSql) q61),
         qunpacked AS (
           SELECT vec_id AS qid, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
           WHERE vec_id < 3),
         allunpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         codebook AS (
           SELECT label AS code, CAST(pos // 8 AS INT) AS c_sub, pos AS c_pos, avg(x) AS cx
           FROM allunpacked GROUP BY label, CAST(pos // 8 AS INT), pos),
         lut AS (
           SELECT q.qid, c.c_sub AS subspace, c.code,
                  round(sum((q.x - c.cx) * (q.x - c.cx)), 6) AS qdist
           FROM qunpacked q JOIN codebook c ON c.c_pos = q.pos
           GROUP BY q.qid, c.c_sub, c.code),
         adist AS (
           SELECT l.qid, co.cid, round(sum(l.qdist), 6) AS adist
           FROM codes co
           JOIN lut l ON l.subspace = co.subspace AND l.code = co.code
           WHERE co.cid != l.qid
           GROUP BY l.qid, co.cid),
         topk AS (
           SELECT qid, cid, adist,
             row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
           FROM adist)
         SELECT qid, cid, adist, CAST(rn AS BIGINT) AS rn
         FROM topk WHERE rn <= 5 ORDER BY qid, rn""",

    "q70_ivfpq_topk" -> q70OracleSql,

    // q122 IS q70 on results — the saved index must round-trip exactly,
    // so the two queries share ONE oracle text (the bpeTokenRe/q38/q77
    // anti-drift discipline: a future change to the ADC rule cannot
    // desynchronize the persisted path from the inline one).
    "q122_ivfpq_saved_search" -> q70OracleSql,

    // q145: the nested-ADC discipline (q129's `WITH ann AS (...)` shape)
    // at the over-fetch depth, then the exact re-rank — per-(qid, cid)
    // rounded sum of squared component differences, top-k by (dist, cid).
    "q145_ivfpq_refined_search" ->
      s"""WITH ann AS (${ivfPqOracleSql("TRUE", k = q145K * q145OverFetch,
             nProbes = q145NProbes)}),
         qun AS (
           SELECT vec_id AS qid, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
           WHERE vec_id < 3),
         cun AS (
           SELECT vec_id AS cid, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         rer AS (
           SELECT a.qid, a.cid, round(sum((q.x - c.x) * (q.x - c.x)), 6) AS dist
           FROM ann a
           JOIN qun q ON q.qid = a.qid
           JOIN cun c ON c.cid = a.cid AND c.pos = q.pos
           GROUP BY a.qid, a.cid),
         rtopk AS (
           SELECT qid, cid, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
           FROM rer)
         SELECT qid, cid, dist, CAST(rn AS BIGINT) AS rn
         FROM rtopk WHERE rn <= $q145K ORDER BY qid, rn""",

    // q133 IS q70 on results too: the rebuild retrains over the full
    // corpus, so the swapped-in set must search exactly like a fresh
    // full-corpus build — one oracle text, zero drift room.
    "q133_ivfpq_rebuild_search" -> q70OracleSql,

    // q135: the SAME parameterized IVF-PQ text with q126's frozen-model
    // CTEs, query side = the arriving cohort, candidate side = the
    // pre-existing cohort, k = 1 — the nearest already-indexed neighbor
    // per arrival.
    "q135_index_neardup_batch" -> ivfPqOracleSql(
      s"NOT ($q126BatchFilter)",
      queryFilter = q126BatchFilter,
      candFilter = s"NOT (${q135CandCohort("lc.cid")})",
      k = 1),

    // frozen-codebook append: model CTEs on the ¾ base, everything else
    // (assignment, codes, probes, search) over the full corpus
    "q126_ivfpq_append_search" -> ivfPqOracleSql(s"NOT ($q126BatchFilter)"),

    // q127: same frozen-codebook model CTEs as q126 (codebook trained on
    // the base only, EVERY vector coded against it — exactly what the
    // saved+appended index holds, spec-pinned equal by q126), then
    // per-cohort distortion stats and the two-bar rebuild flag. Sums of
    // 6-decimal-rounded per-row distances round to 4 (reorder error
    // ~1e-8); the means divide those agreed sums.
    "q127_ivfpq_staleness_audit" ->
      s"""WITH unpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         model AS (SELECT * FROM unpacked WHERE NOT ($q126BatchFilter)),
         codebook AS (
           SELECT label AS code, CAST(pos // 8 AS INT) AS c_sub, pos AS c_pos, avg(x) AS cx
           FROM model GROUP BY label, CAST(pos // 8 AS INT), pos),
         sub AS (SELECT vec_id, CAST(pos // 8 AS INT) AS subspace, pos, x FROM unpacked),
         cscored AS (
           SELECT s.vec_id, s.subspace, c.code,
                  round(sum((s.x - c.cx) * (s.x - c.cx)), 6) AS dist
           FROM sub s JOIN codebook c ON c.c_pos = s.pos AND c.c_sub = s.subspace
           GROUP BY s.vec_id, s.subspace, c.code),
         cbest AS (
           SELECT vec_id, subspace, code, dist,
             row_number() OVER (PARTITION BY vec_id, subspace
                                ORDER BY dist, code) AS rn
           FROM cscored),
         coh AS (
           SELECT vec_id AS cid,
                  CASE WHEN vec_id % 4 = 3 THEN 'append' ELSE 'build' END AS cohort,
                  dist
           FROM cbest WHERE rn = 1),
         stats AS (
           SELECT cohort, CAST(count(DISTINCT cid) AS BIGINT) AS n_vecs,
                  CAST(count(*) AS BIGINT) AS n_rows, round(sum(dist), 4) AS sum_dist
           FROM coh GROUP BY cohort),
         totals AS (
           SELECT CAST(sum(n_vecs) AS DOUBLE) AS total_vecs,
                  max(CASE WHEN cohort = 'append' THEN n_vecs END) AS a_vecs,
                  max(CASE WHEN cohort = 'append' THEN sum_dist END) AS a_sum,
                  max(CASE WHEN cohort = 'append' THEN n_rows END) AS a_rows,
                  max(CASE WHEN cohort = 'build' THEN sum_dist END) AS b_sum,
                  max(CASE WHEN cohort = 'build' THEN n_rows END) AS b_rows
           FROM stats)
         SELECT s.cohort, s.n_vecs, s.n_rows, s.sum_dist,
                round(CAST(s.n_vecs AS DOUBLE) / t.total_vecs, 6) AS vec_frac,
                CAST(COALESCE(
                  COALESCE(CAST(t.a_vecs AS DOUBLE) / t.total_vecs, 0) > 0.3
                    OR COALESCE(t.a_sum / t.a_rows, 0) > 1.5 * (t.b_sum / t.b_rows),
                  false) AS BIGINT) AS rebuild
         FROM stats s CROSS JOIN totals t ORDER BY s.cohort""",

    // q129: the ANN side nests q126's full oracle (the maintained index's
    // search, frozen-codebook CTEs and all); exact truth is brute-force
    // rounded squared L2 top-5 with the (dist, cid) tie-break. Recall is
    // a ratio of integers both engines agree on exactly.
    "q129_ann_recall_audit" ->
      s"""WITH ann AS (${ivfPqOracleSql(s"NOT ($q126BatchFilter)")}),
          unp AS (
            SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
          qv AS (SELECT vec_id AS qid, pos, x FROM unp WHERE vec_id < 3),
          dists AS (
            SELECT q.qid, u.vec_id AS cid,
                   round(sum((q.x - u.x) * (q.x - u.x)), 6) AS dist
            FROM qv q JOIN unp u ON u.pos = q.pos AND u.vec_id <> q.qid
            GROUP BY q.qid, u.vec_id),
          etop AS (
            SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
            FROM dists),
          ex AS (SELECT qid, cid FROM etop WHERE rn <= 5)
          SELECT e.qid,
            CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ann_hits,
            CAST(count(*) AS BIGINT) AS k,
            round(CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*), 6) AS recall
          FROM ex e LEFT JOIN ann a ON a.qid = e.qid AND a.cid = e.cid
          GROUP BY e.qid ORDER BY e.qid""",

    "q123_prototype_select" ->
      """WITH unpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         seed AS (
           SELECT label AS c_label, pos AS c_pos, avg(x) AS cx
           FROM unpacked GROUP BY label, pos),
         d0 AS (
           SELECT u.vec_id, s.c_label,
                  round(sum((u.x - s.cx) * (u.x - s.cx)), 6) AS dist
           FROM unpacked u JOIN seed s ON s.c_pos = u.pos
           GROUP BY u.vec_id, s.c_label),
         a0 AS (
           SELECT vec_id, c_label, dist FROM (
             SELECT vec_id, c_label, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
             FROM d0) r WHERE rn = 1),
         ranked AS (
           SELECT vec_id, c_label, dist,
             row_number() OVER (PARTITION BY c_label ORDER BY dist, vec_id) AS proto_rank
           FROM a0)
         SELECT vec_id, CAST(c_label AS BIGINT) AS c_label, dist,
           CAST(proto_rank AS BIGINT) AS proto_rank,
           CAST(CASE WHEN proto_rank <= 20 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM ranked ORDER BY c_label, proto_rank""",

    // q124 = q123's keepers only (same CTE chain, rank filter instead of
    // a keep flag) — kept textually in lockstep with q123's oracle
    "q124_prototype_topk" ->
      """WITH unpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         seed AS (
           SELECT label AS c_label, pos AS c_pos, avg(x) AS cx
           FROM unpacked GROUP BY label, pos),
         d0 AS (
           SELECT u.vec_id, s.c_label,
                  round(sum((u.x - s.cx) * (u.x - s.cx)), 6) AS dist
           FROM unpacked u JOIN seed s ON s.c_pos = u.pos
           GROUP BY u.vec_id, s.c_label),
         a0 AS (
           SELECT vec_id, c_label, dist FROM (
             SELECT vec_id, c_label, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
             FROM d0) r WHERE rn = 1),
         ranked AS (
           SELECT vec_id, c_label, dist,
             row_number() OVER (PARTITION BY c_label ORDER BY dist, vec_id) AS proto_rank
           FROM a0)
         SELECT vec_id, CAST(c_label AS BIGINT) AS c_label, dist,
           CAST(proto_rank AS BIGINT) AS proto_rank
         FROM ranked WHERE proto_rank <= 20 ORDER BY c_label, proto_rank""",

    "q72_kmeans_refine" ->
      """WITH unpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         seed AS (
           SELECT label AS c_label, pos AS c_pos, avg(x) AS cx
           FROM unpacked GROUP BY label, pos),
         d0 AS (
           SELECT u.vec_id, s.c_label,
                  round(sum((u.x - s.cx) * (u.x - s.cx)), 6) AS dist
           FROM unpacked u JOIN seed s ON s.c_pos = u.pos
           GROUP BY u.vec_id, s.c_label),
         a0 AS (
           SELECT vec_id, c_label AS k_label FROM (
             SELECT vec_id, c_label,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
             FROM d0) r WHERE rn = 1),
         refined AS (
           SELECT a.k_label AS c_label, u.pos AS c_pos, avg(u.x) AS cx
           FROM unpacked u JOIN a0 a USING (vec_id)
           GROUP BY a.k_label, u.pos),
         d1 AS (
           SELECT u.vec_id, u.label, c.c_label,
                  round(sum((u.x - c.cx) * (u.x - c.cx)), 6) AS dist
           FROM unpacked u JOIN refined c ON c.c_pos = u.pos
           GROUP BY u.vec_id, u.label, c.c_label),
         a1 AS (
           SELECT vec_id, label, c_label FROM (
             SELECT vec_id, label, c_label,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
             FROM d1) r WHERE rn = 1)
         SELECT label, c_label AS assigned, count(*) AS n
         FROM a1 GROUP BY label, assigned ORDER BY label, assigned""",

    "q41_ivf_assign" ->
      """WITH unpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         centroids AS (
           SELECT label AS c_label, pos AS c_pos, avg(x) AS cx
           FROM unpacked GROUP BY label, pos),
         scored AS (
           SELECT vec_id, label, c_label, sum(x * cx) AS dot
           FROM unpacked JOIN centroids ON pos = c_pos
           GROUP BY vec_id, label, c_label),
         best AS (
           SELECT vec_id, label, c_label,
             row_number() OVER (PARTITION BY vec_id ORDER BY round(dot, 6) DESC NULLS LAST, c_label) AS rn
           FROM scored)
         SELECT label, c_label AS assigned, count(*) AS n
         FROM best WHERE rn = 1
         GROUP BY label, assigned ORDER BY label, assigned""",

    "q84_sq8_codes" ->
      """WITH unpacked AS (
           SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         ranges AS (
           SELECT dim, min(x) AS mn, max(x) AS mx
           FROM unpacked GROUP BY dim)
         SELECT u.vec_id, CAST(u.dim AS BIGINT) AS dim,
           CASE WHEN r.mx = r.mn THEN 0
                ELSE CAST(least(floor((u.x - r.mn) * 255.0 / (r.mx - r.mn)),
                          255.0) AS BIGINT) END AS code
         FROM unpacked u JOIN ranges r ON r.dim = u.dim""",

    "q86_semdedup" ->
      """WITH unpacked AS (
           SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         centroids AS (
           SELECT label AS c_label, pos AS c_pos, avg(x) AS cx
           FROM unpacked GROUP BY label, pos),
         assign_scored AS (
           SELECT vec_id, c_label, round(sum(x * cx), 6) AS dot
           FROM unpacked JOIN centroids ON pos = c_pos
           GROUP BY vec_id, c_label),
         ranked AS (
           SELECT vec_id, c_label,
             row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC NULLS LAST, c_label) AS rn
           FROM assign_scored),
         cells AS (SELECT vec_id, c_label FROM ranked WHERE rn = 1),
         dropped AS (
           SELECT DISTINCT b.vec_id
           FROM cells a
           JOIN cells b ON b.c_label = a.c_label AND a.vec_id < b.vec_id
           JOIN embeddings ea ON ea.vec_id = a.vec_id
           JOIN embeddings eb ON eb.vec_id = b.vec_id
           WHERE list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))))
               >= 0.45)
         SELECT c.vec_id, CAST(c.c_label AS BIGINT) AS c_label,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id""",

    "q119_semantic_decontam" ->
      """SELECT vec_id, eval_id, cos,
           CAST(CASE WHEN cos >= 0.45 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         FROM (
           SELECT c.vec_id, q.vec_id AS eval_id,
             round(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS cos,
             row_number() OVER (PARTITION BY c.vec_id ORDER BY
               round(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) DESC,
               q.vec_id) AS rn
           FROM embeddings c JOIN embeddings q
             ON q.vec_id < 50 AND c.vec_id >= 50) t
         WHERE rn = 1""",

    // q137: the q37 cosine device, label-partitioned — negatives ranked
    // among different-label candidates, margin = integer difference of
    // the micro-scaled cosines (best positive = max same-label cosine).
    "q137_hard_negatives" ->
      """WITH scored AS (
           SELECT q.vec_id AS qid, q.label AS qlabel,
             c.vec_id AS cid, c.label AS clabel,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
           FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 8),
         best_pos AS (
           SELECT qid, max(cos) AS best_pos FROM scored
           WHERE clabel = qlabel GROUP BY qid),
         negs AS (
           SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
           FROM scored WHERE clabel != qlabel)
         SELECT n.qid, n.cid AS neg_id, n.cos, CAST(n.rn AS BIGINT) AS rn,
           CAST(round(n.cos * 1e6, 0) AS BIGINT)
             - CAST(round(b.best_pos * 1e6, 0) AS BIGINT) AS margin_micro,
           CAST(n.cos > b.best_pos AS BIGINT) AS suspect_false_neg
         FROM negs n LEFT JOIN best_pos b USING (qid)
         WHERE n.rn <= 5 ORDER BY qid, rn""",

    // q139: every corpus-sized sum is over micro-scaled BIGINTs (exact
    // under any summation order); the corpus row (-1) is the integer SUM
    // of the label rows — pooled moments, not averaged averages. The
    // double expressions mirror the Spark side operation-for-operation.
    "q139_embedding_health" ->
      """WITH unpacked AS (
           SELECT vec_id, CAST(label AS BIGINT) AS lbl, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6, 0) AS BIGINT) AS v
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         rownorm AS (
           SELECT vec_id, lbl,
             CAST(round(sqrt(CAST(sum(v * v) AS DOUBLE)), 0) AS BIGINT) AS nm
           FROM unpacked GROUP BY vec_id, lbl),
         normlab AS (
           SELECT lbl, count(*) AS n, sum(nm) AS snm,
             min(nm) AS minm, max(nm) AS maxm
           FROM rownorm GROUP BY lbl),
         norml AS (
           SELECT * FROM normlab
           UNION ALL
           SELECT CAST(-1 AS BIGINT), CAST(sum(n) AS BIGINT),
             CAST(sum(snm) AS BIGINT), min(minm), max(maxm) FROM normlab),
         dimlab AS (
           SELECT lbl, pos, sum(v) AS sx, sum(v * v) AS sxx, count(*) AS nd
           FROM unpacked GROUP BY lbl, pos),
         diml AS (
           SELECT * FROM dimlab
           UNION ALL
           SELECT CAST(-1 AS BIGINT), pos, CAST(sum(sx) AS BIGINT),
             CAST(sum(sxx) AS BIGINT), CAST(sum(nd) AS BIGINT)
           FROM dimlab GROUP BY pos),
         dimstats AS (
           SELECT lbl,
             CAST(round((CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nd) / nd / 1e6,
               0) AS BIGINT) AS var_u,
             CAST(round(CAST(sx AS DOUBLE) / nd, 0) AS BIGINT) AS mn_u
           FROM diml),
         dimagg AS (
           SELECT lbl,
             round(CASE WHEN sum(var_u * var_u) = 0 THEN 0.0
               ELSE CAST(sum(var_u) AS DOUBLE) * sum(var_u) / sum(var_u * var_u)
               END, 6) AS participation_ratio,
             sqrt(CAST(sum(mn_u * mn_u) AS DOUBLE)) / 1e6 AS mvn_d
           FROM dimstats GROUP BY lbl)
         SELECT n.lbl AS label, n.n,
           round(CAST(n.snm AS DOUBLE) / n.n / 1e6, 6) AS mean_norm,
           round(CAST(n.minm AS DOUBLE) / 1e6, 6) AS min_norm,
           round(CAST(n.maxm AS DOUBLE) / 1e6, 6) AS max_norm,
           round(d.mvn_d, 6) AS mean_vec_norm,
           round(d.mvn_d / (CAST(n.snm AS DOUBLE) / n.n / 1e6), 6) AS anisotropy,
           d.participation_ratio
         FROM norml n JOIN dimagg d USING (lbl) ORDER BY label""",

    // q140: the fixture's corruption CASE arms and the verdict chain
    // mirror the Spark side order-for-order; d2 is the same sequential
    // fold both engines compute on identical doubles. The null-COMPONENT
    // class (Spark: d2 IS NULL → nonfinite) is spec-pinned only —
    // DuckDB's list_dot_product kernel rejects null elements outright,
    // so that row class cannot appear in an oracle fixture; the IS NULL
    // arm below is the documented mirror, unreachable on this data.
    "q140_vector_health" ->
      """WITH base AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings),
         corrupted AS (
           SELECT vec_id,
             CASE WHEN vec_id % 31 = 0 THEN e0[1:32]
                  WHEN vec_id % 37 = 0 THEN list_concat(['nan'::DOUBLE], e0[2:64])
                  WHEN vec_id % 23 = 0 THEN list_transform(e0, x -> 0.0)
                  WHEN vec_id % 29 = 0 THEN list_transform(e0, x -> x * 10.0)
                  ELSE e0 END AS e
           FROM base),
         judged AS (
           SELECT vec_id,
             CASE WHEN e IS NULL THEN 'null'
                  WHEN len(e) != 64 THEN 'wrong_dim'
                  WHEN list_dot_product(e, e) IS NULL
                    OR isnan(list_dot_product(e, e))
                    OR isinf(list_dot_product(e, e)) THEN 'nonfinite'
                  WHEN list_dot_product(e, e) < 0.25 THEN 'norm_low'
                  WHEN list_dot_product(e, e) > 4.0 THEN 'norm_high'
                  ELSE 'ok' END AS verdict
           FROM corrupted)
         SELECT verdict, count(*) AS n_vecs,
           CAST(min(vec_id) AS BIGINT) AS first_vec,
           CAST(max(vec_id) AS BIGINT) AS last_vec
         FROM judged GROUP BY verdict ORDER BY verdict""",

    // q141: the q139 integer-moment machinery with a cohort flag; pooled
    // (-1) rows are integer sums of label rows; the drift expressions
    // mirror the Spark side operation-for-operation. The cohort predicate
    // interpolates the SHARED q126BatchFilter constant (r14 ADVICE) like
    // the q126/q127/q135 oracles — a textual copy here would silently
    // desync the oracle from the Spark side's derived cohort on any
    // future change to the constant.
    "q141_embedding_drift" ->
      s"""WITH unpacked AS (
           SELECT CAST(label AS BIGINT) AS lbl,
             CAST($q126BatchFilter AS BIGINT) AS arr, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6, 0) AS BIGINT) AS v
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         dimlab AS (
           SELECT lbl, arr, pos, sum(v) AS sx, sum(v * v) AS sxx,
             count(*) AS nd
           FROM unpacked GROUP BY lbl, arr, pos),
         diml AS (
           SELECT * FROM dimlab
           UNION ALL
           SELECT CAST(-1 AS BIGINT), arr, pos, CAST(sum(sx) AS BIGINT),
             CAST(sum(sxx) AS BIGINT), CAST(sum(nd) AS BIGINT)
           FROM dimlab GROUP BY arr, pos),
         stats AS (
           SELECT lbl, arr, pos, nd,
             CAST(round(CAST(sx AS DOUBLE) / nd, 0) AS BIGINT) AS mn_u,
             CAST(round((CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nd) / nd / 1e6,
               0) AS BIGINT) AS var_u
           FROM diml),
         joined AS (
           SELECT COALESCE(b.lbl, a.lbl) AS lbl, COALESCE(b.pos, a.pos) AS pos,
             b.nd AS nb, a.nd AS na,
             b.mn_u AS mb, a.mn_u AS ma, b.var_u AS vb, a.var_u AS va
           FROM (SELECT * FROM stats WHERE arr = 0) b
           FULL OUTER JOIN (SELECT * FROM stats WHERE arr = 1) a
             ON a.lbl = b.lbl AND a.pos = b.pos),
         agg AS (
           SELECT lbl, COALESCE(max(nb), 0) AS n_base,
             COALESCE(max(na), 0) AS n_arr,
             CAST(sum((ma - mb) * (ma - mb)) AS BIGINT) AS d2_u,
             CAST(sum(vb) AS BIGINT) AS disp_base_u,
             CAST(sum(va) AS BIGINT) AS disp_arr_u
           FROM joined GROUP BY lbl),
         derived AS (
           SELECT lbl, n_base, n_arr, d2_u, disp_base_u, disp_arr_u,
             sqrt(CAST(d2_u AS DOUBLE)) / 1e6 AS shift_d,
             CASE WHEN n_base > 0 AND n_arr > 0 THEN
               sqrt(CAST(disp_base_u AS DOUBLE) / 1e6
                 * (1.0 / n_base + 1.0 / n_arr)) END AS noise_d,
             CAST(disp_arr_u AS DOUBLE) / disp_base_u AS ratio_d
           FROM agg)
         SELECT lbl AS label, CAST(n_base AS BIGINT) AS n_base,
           CAST(n_arr AS BIGINT) AS n_arr,
           round(CAST(n_arr AS DOUBLE) / (n_base + n_arr), 6) AS arr_share,
           round(shift_d, 6) AS centroid_shift,
           round(noise_d, 6) AS shift_noise,
           round(ratio_d, 6) AS disp_ratio,
           CAST(n_base = 0 OR n_arr = 0
             OR (shift_d > 0.1 AND shift_d > 3.0 * noise_d)
             OR ratio_d < 0.5 OR ratio_d > 2.0
             AS BIGINT) AS drift
         FROM derived ORDER BY label""",

    // q142: the window formulation IS the oracle (DuckDB exactness, not
    // scale) — the Spark side's sort-free rank algebra must reproduce it
    // exactly.
    "q142_retrieval_quality" ->
      """WITH scored AS (
           SELECT q.vec_id AS qid, q.label AS qlabel,
             c.vec_id AS cid, c.label AS clabel,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
           FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 50),
         ranked AS (
           SELECT qid, qlabel, cid, clabel, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
           FROM scored),
         firsthit AS (
           SELECT qid, CAST(min(rn) AS BIGINT) AS first_hit_rank
           FROM ranked WHERE clabel = qlabel GROUP BY qid),
         patk AS (
           SELECT qid,
             CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_topk_hits
           FROM ranked WHERE rn <= 10 GROUP BY qid)
         SELECT e.vec_id AS qid, CAST(e.label AS BIGINT) AS qlabel,
           f.first_hit_rank,
           CAST(round(1e6 / f.first_hit_rank, 0) AS BIGINT) AS rr_micro,
           p.n_topk_hits
         FROM embeddings e
         LEFT JOIN firsthit f ON f.qid = e.vec_id
         LEFT JOIN patk p ON p.qid = e.vec_id
         WHERE e.vec_id < 50 ORDER BY qid"""
  )
}
