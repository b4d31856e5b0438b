package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Cached
import graft.util.Tables._

/** Near-duplicate CLUSTERING — the step a real training-data dedup pipeline
  * runs after pair generation: connected components over the near-dup pair
  * graph, assigning every document a canonical `cluster_id` (the minimum
  * doc_id of its component) so "keep one per cluster" is a trivial filter.
  *
  * The reference has no graph operator (this is part of the EXT
  * training-data pack, like DedupOps/SimilarityOps); the algorithm is the
  * alternating large-star/small-star method of Kiveris et al., "Connected
  * Components in MapReduce and Beyond" (ACM SoCC 2014): O(log² n) rounds
  * regardless of component diameter, each round a constant number of
  * aggregations and equi-joins.
  *
  * Scale design: everything stays row-shaped — per-node minima are
  * AGGREGATIONS and star re-wiring is an equi-join against those minima, so
  * a node with millions of neighbors is a hot join key (streamed, spilled,
  * AQE-splittable), never a `collect_list` neighbor array in one task row
  * (the same rule the simhash pair expansion follows). Naive min-label
  * propagation was rejected: its round count is the component DIAMETER,
  * and an adversarial near-dup chain (doc i ~ doc i+1) makes that O(n)
  * shuffles; the star algorithm collapses such chains in logarithmic
  * rounds. The per-round driver loop exchanges one (count, hash-sum) row —
  * the standard Spark iterative-algorithm shape (GraphX/ALS do the same),
  * not a driver-side data path.
  */
object GraphOps {

  /** Hard stop for the star iteration: the algorithm converges in
    * O(log² n) rounds (≈ 25 at n = 10¹² with the paper's constants); a
    * graph still moving after 50 rounds means a logic bug, and failing
    * loudly beats silently emitting partial components.
    */
  private val maxIters = 50

  /** Below this canonical-edge count the component computation runs as a
    * driver-local union-find over the collected edge set — the same
    * adaptive principle as Spark's broadcast-join threshold: under it, the
    * star iteration's ~3 jobs per round cost more wall than shipping ≤1.6 MB
    * of (long, long) pairs once. Above it, the distributed star path runs
    * (the 100 TB route). Both paths produce identical labels
    * (GraphOpsSpec pins them against each other).
    */
  val localCcMaxEdges = 100000L

  /** Connected components of an undirected graph given as (u, v) integral
    * edge pairs (self-loops and duplicates tolerated; ids normalized to
    * BIGINT). Returns one row per node that appears in at least one
    * NON-self-loop edge: (doc_id, cluster_id) where cluster_id is the
    * component's minimum node id. A node whose only edges are self-loops
    * carries no connectivity information and gets no output row — callers
    * wanting singleton rows for such nodes left-join the node universe and
    * `coalesce(cluster_id, doc_id)`, exactly as q45 does for documents in
    * no candidate pair at all.
    *
    * The returned frame is persisted and filled (node-count-sized, bounded
    * by 2× the edge count) and the caller owns it ([[graft.util.Cached]]);
    * every per-round intermediate cache is released before return.
    *
    * `localThreshold` overrides [[localCcMaxEdges]] (0 forces the
    * distributed star path — used by specs to pin path equivalence).
    */
  def connectedComponents(edges0: DataFrame,
      localThreshold: Long = localCcMaxEdges): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges0.sparkSession

    // Per-round lineage truncation: every round's frame is rebuilt from a
    // persisted RDD[Row] (LogicalRDD plan). Without this, round k's logical
    // plan embeds MULTIPLE copies of round k-1's plan (incidence union +
    // joins), so the lineage — and every analysis/optimization/explain pass
    // over it — grows exponentially with the round count; caching alone
    // does not truncate logical plans. The RDD handle also gives
    // deterministic per-round release. These RDD caches are the one cache
    // site outside graft.util.Cached: a Scope holds DataFrames only.
    def materialize(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(MEMORY_AND_DISK)
      rdd.count()
      (spark.createDataFrame(rdd, df.schema), rdd)
    }

    // one scalar row per round: (edge count, order-insensitive hash XOR —
    // edges are distinct, so xor-cancellation needs a 64-bit collision; sum
    // would overflow under ANSI mode) — equality means the edge set is a
    // fixpoint of large-star ∘ small-star, and a fixpoint that preserves
    // connectivity (both stars do) must be one star per component (two
    // stable stars in one component would disconnect it)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }

    // canonical edge orientation (u < v), loops dropped; BIGINT-normalized
    // so callers can pass any integral node-id type and the output schema
    // is stable
    var (cur, curRdd) = materialize(edges0
      .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct())

    var sig = signature(cur)

    // adaptive local path: tiny edge sets union-find on the driver
    if (sig._1 <= localThreshold) {
      val edges = cur.collect().map(r => (r.getLong(0), r.getLong(1)))
      curRdd.unpersist(false)
      val rows = localUnionFind(edges).iterator
        .map { case (n, m) => org.apache.spark.sql.Row(n, m) }.toSeq
      return Cached(_ => spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType, nullable = false)))))
    }

    var converged = sig._1 == 0L
    var iters = 0
    // any throw below (a mid-round Spark failure, or the convergence
    // require itself — the exact scenario the guard exists for) must not
    // leak the current round's corpus-sized persisted RDD into the rest
    // of the session. `curRdd` is re-pointed at each newly persisted round
    // intermediate the moment its predecessor is released, so at every
    // instant it names the ONE live persisted RDD and the finally releases
    // exactly it — a throw inside materialize(smallStar) or signature can
    // no longer leak the half-round ls/ss handle.
    try {
      while (!converged && iters < maxIters) {
        val (ls, lsRdd) = materialize(largeStar(cur))
        curRdd.unpersist(false)
        curRdd = lsRdd
        val (ss, ssRdd) = materialize(smallStar(ls))
        lsRdd.unpersist(false)
        curRdd = ssRdd

        val newSig = signature(ss)
        cur = ss
        converged = newSig == sig
        sig = newSig
        iters += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIters star rounds")

      // converged state is one star per component rooted at its minimum:
      // members are the v side, roots label themselves
      Cached(_ => cur
        .select(col("v").as("doc_id"), col("u").as("cluster_id"))
        .unionByName(
          cur.select(col("u").as("doc_id"), col("u").as("cluster_id")).distinct()))
    } finally curRdd.unpersist(false)
  }

  /** Driver-side union-find labeling for the adaptive local path:
    * (node → component-minimum id) for every node in the edge list. `find`
    * is ITERATIVE (walk to the root, then a second compression pass) — the
    * recursive form stack-overflows on adversarial collect orders: a
    * descending-order path graph builds an O(n) parent chain with no
    * compression opportunity until the final labeling pass, and at the
    * 100k-edge threshold that is up to ~200k frames deep.
    */
  private[operators] def localUnionFind(
      edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.groupBy(find).iterator.flatMap { case (_, ns) =>
      val m = ns.min
      ns.iterator.map(n => n -> m)
    }.toMap
  }

  /** One LAZY large-star re-wiring of a canonical (u < v) edge frame: for
    * every node x, hook each LARGER neighbor y to m(x) = min(N(x) ∪ {x}).
    * Incidence in both directions, one aggregation for the minima, one
    * equi-join to re-wire. Exposed un-materialized so specs can assert the
    * per-round plan shape — the materialized rounds collapse to LogicalRDD
    * scans that hide the join structure.
    */
  private[operators] def largeStar(cur: DataFrame): DataFrame = {
    val inc = cur.select(col("u").as("x"), col("v").as("y"))
      .unionByName(cur.select(col("v").as("x"), col("u").as("y")))
    val ml = inc.groupBy("x").agg(min("y").as("mn"))
      .select(col("x"), least(col("x"), col("mn")).as("m"))
    // m ≤ x < y, so (m, y) is already canonically ordered
    inc.join(ml, "x").filter(col("y") > col("x"))
      .select(col("m").as("u"), col("y").as("v"))
      .distinct()
  }

  /** One LAZY small-star re-wiring: group each node's SMALLER neighbors
    * (edges arrive canonically (u, v) with u < v, so group by v), hook
    * them and v itself to their minimum.
    */
  private[operators] def smallStar(ls: DataFrame): DataFrame = {
    val ms = ls.groupBy("v").agg(min("u").as("m"))
    ls.join(ms, "v").select(col("u").as("y"), col("m"))
      .unionByName(ms.select(col("v").as("y"), col("m")))
      .filter(col("y") =!= col("m"))
      .select(col("m").as("u"), col("y").as("v")) // m < y by min-ness
      .distinct()
  }

  /** q62's operator body, parameterized on the RP-LSH band geometry (r11):
    * the scale-smoke hook for the band-width knob — q62 binds the
    * oracle-pinned (6, 8); the 20× smoke gates (6, 9), +1 sign bit per
    * corpus doubling (see [[SimilarityOps.rpLshNearDup]]).
    */
  def embeddingClustersAt(s: SparkSession, d: String, L: Int, b: Int): DataFrame = Cached { c =>
    val pairs = SimilarityOps.rpLshNearDupAt(s, d, L, b)
    val labels = c.adopt(connectedComponents(
      pairs.select(col("ia").as("u"), col("ib").as("v"))))
    embeddings(s, d).select("vec_id")
      .join(labels.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
  }

  /** [[embeddingClustersAt]] with the band width SELF-SELECTED from the
    * corpus's measured bit marginals ([[SimilarityOps.autoBandBits]]) —
    * the no-knob scale path the 10×/20× smoke gates: the same call picks
    * b=8 on the 10× corpus and b=9 on the 20× one with no env knob.
    */
  def embeddingClustersAuto(s: SparkSession, d: String, L: Int = 6): DataFrame =
    embeddingClustersAt(s, d, L, SimilarityOps.autoBandBitsAt(s, d, L))

  /** q130: SOFT near-dup handling — per-document SAMPLING WEIGHTS from
    * q45's duplicate clusters instead of hard drops. Each cluster
    * contributes unit total mass (`weight = 1/|cluster|`), the standard
    * alternative when duplicates carry signal (popularity, cross-source
    * corroboration) that outright dedup destroys — the rule
    * cluster-aware data-selection pipelines (SemDeDup/D4-class) apply
    * between "keep all copies" and "keep one". Singletons weigh 1.0;
    * downstream samplers consume the weight column directly (q47/q85's
    * deterministic hash samplers compose: admit when
    * hash-uniform < weight).
    *
    * Scale shape: q45's smoked candidate + CC machinery, then ONE
    * cluster-keyed count exchange and one keyed join-back — both linear,
    * both on the already-label-shaped table.
    */
  def clusterSampleWeights(s: SparkSession, d: String): DataFrame = Cached { c =>
    val clusters = c.adopt(queries("q45_dedup_clusters")(s, d))
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** q136: SOFT-DEDUP SAMPLE — q130's weights MATERIALIZED into per-doc
    * admit/reject decisions, closing the weights→sample gap q130's
    * scaladoc delegates ("downstream samplers consume the weight column
    * directly"): admit a document when its salted hash-uniform falls
    * under its cluster weight — the q63/q85 threshold device, one house
    * convention — so each near-dup cluster admits ONE member in
    * expectation while every copy keeps a nonzero chance (the soft
    * middle ground between keep-all and q73's hard keeper). Singletons
    * (weight 1.0) are always admitted via the explicit rate guard (the
    * q63 rule: the 2³² bound overflows 8 hex digits at weight ≥ 1).
    * Deterministic and engine-exact: the bound is floor(round6-weight ×
    * 2³²) rendered as 8 hex digits, the draw is the first 32 md5 bits of
    * the salted doc_id — both bit-identical across engines, so the
    * SAMPLE itself is reproducible, not just its rate. Output keeps the
    * q73 audit shape (every doc, flag) so the admitted set AND its
    * complement are queryable.
    *
    * Scale shape: q130's smoked chain plus one row-local md5 threshold —
    * nothing new shuffles.
    */
  def softDedupSample(s: SparkSession, d: String): DataFrame = Cached { c =>
    c.adopt(queries("q130_cluster_weights")(s, d))
      .withColumn("bound", lower(lpad(hex(
        floor(col("weight") * lit(4294967296.0)).cast("long")), 8, "0")))
      .withColumn("h", substring(md5(concat(lit("soft:"),
        col("doc_id").cast("string"))), 1, 8))
      .select(col("doc_id"), col("cluster_id"), col("weight"),
        (col("weight") >= 1.0 || col("h") < col("bound"))
          .cast("long").as("admit"))
  }

  /** q132: DEDUP IMPACT report — the end-of-pipeline accounting a curation
    * run publishes: per source, raw vs EFFECTIVE (q130-weight-summed)
    * document and token counts, and the duplicated-token fraction soft
    * dedup removes. "Effective tokens" is the number that actually enters
    * epoch math and mixture budgeting (q83/q85/q100 consume token budgets;
    * this is the dedup-corrected supply side). Every reported sum is a sum
    * of exact 1e-6 multiples (weights are 6-decimal-rounded), so the
    * 6-decimal re-round sits 5e-7 from any boundary — engine-stable — and
    * the fraction divides already-agreed values.
    *
    * Scale shape: q130's chain plus one doc-keyed join and one
    * source-keyed aggregation — linear.
    */
  def dedupImpact(s: SparkSession, d: String): DataFrame = Cached { c =>
    val w = c.adopt(queries("q130_cluster_weights")(s, d))
    val toks = documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    toks.join(w.select("doc_id", "weight"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        round(sum("weight"), 6).as("effective_docs"),
        round(sum(col("weight") * col("n_tokens")), 6).as("effective_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("effective_docs"), col("effective_tokens"),
        round(lit(1.0) - col("effective_tokens") / col("n_tokens"), 6)
          .as("dup_token_frac"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Dedup clustering over the MinHash/LSH candidate graph (q35's pairs):
    // every document gets a canonical cluster_id; documents in no near-dup
    // pair are their own singleton cluster. "Keep one per cluster" is then
    // `WHERE doc_id = cluster_id` — the terminal step of the 100 TB
    // near-dup pipeline (q35 candidates → q40 verify → q45 clusters).
    "q45_dedup_clusters" -> ((s, d) => Cached { c =>
      val cand = c.adopt(DedupOps.lshCandidates(documents(s, d)))
      val labels = c.adopt(connectedComponents(
        cand.select(col("id_a").as("u"), col("id_b").as("v"))))
      documents(s, d).select("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }),

    // SOFT dedup: per-document sampling weights from q45's clusters —
    // see [[clusterSampleWeights]].
    "q130_cluster_weights" -> ((s, d) => clusterSampleWeights(s, d)),

    // Per-source dedup impact accounting — see [[dedupImpact]].
    "q132_dedup_impact" -> ((s, d) => dedupImpact(s, d)),

    // Soft-dedup sample: q130's weights materialized into deterministic
    // per-doc admit decisions — see [[softDedupSample]].
    "q136_soft_dedup_sample" -> ((s, d) => softDedupSample(s, d)),

    // The same clustering terminal for the EMBEDDING near-dup pipeline:
    // q44's RP-LSH verified cosine pairs become components, every vector
    // gets a canonical cluster_id (singletons label themselves) — "keep
    // one per cluster" closes the embedding dedup path exactly as q45
    // closes the text path. Composition reuses connectedComponents
    // unchanged: the pair source is the only difference.
    // DEFAULT = the auto band width (r16, the r15 verdict's #4: the
    // deterministic pair-mass knob beat fixed-b 2.4–3.9× at 20× vectors
    // and its gates are spec/smoke-pinned). On the oracle fixtures
    // autoBandBits floors at its b0 = 8 — exactly the oracle-pinned
    // geometry — so lockstep is unchanged there; on growing corpora b
    // self-selects +1 per doubling (the smoke's (8, 9) gate).
    "q62_embedding_clusters" -> ((s, d) => embeddingClustersAuto(s, d, L = 6)),

    // The pipeline's terminal selection: one representative per q45
    // cluster — the highest-quality member (q38's score, doc_id tiebreak),
    // plus the member count for the dedup report. "Keep best per cluster"
    // rather than "keep lowest id" is what production dedup actually ships.
    // Scale shape: the argmax is a map-side-combinable MIN of a
    // (-score, doc_id) struct (same device as q61's argmin) — one
    // aggregation exchange over the cluster labels, no per-cluster window
    // sort; quality scores are row-local.
    "q65_cluster_reps" -> ((s, d) => Cached { c =>
      val clusters = c.adopt(queries("q45_dedup_clusters")(s, d))
      val scored = documents(s, d)
        .select(col("doc_id"),
          round(TextOps.qualityScoreCol(col("text")), 4).as("score"))
      scored.join(clusters, "doc_id")
        .groupBy("cluster_id")
        .agg(min(struct((-col("score")).as("ns"), col("doc_id"))).as("best"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_id"), col("best.doc_id").as("rep_id"),
          (-col("best.ns")).as("rep_score"), col("n_members"))
    }),

    // The whole-pipeline disposition report: every document's dedup fate
    // and the document that replaces it — what a production pipeline logs
    // so "why was my doc dropped" is answerable. Statuses: `kept` (the
    // doc IS its q45 cluster's best-quality representative), `exact_dup`
    // (a byte-identical-after-normalization twin with a smaller doc_id
    // exists — q33's fingerprint), else `near_dup` (dropped in favor of a
    // better cluster member). `kept_id` is always the cluster
    // representative (= doc_id when kept). The `kept` branch is checked
    // BEFORE `exact_dup`, and that ORDER is load-bearing: the fingerprint
    // normalizes text (lowercase, punctuation stripped), so two docs can
    // share a fingerprint yet differ in raw text and quality score — the
    // higher-scoring punctuated twin can win the rep argmax while the
    // smaller-id plain twin holds the fingerprint-keeper min, making the
    // rep NOT its own fp_keeper. Checking `kept` first keeps the report
    // self-consistent (a cluster's representative is never reported
    // dropped). Scale shape: the rep argmax and
    // fingerprint-keeper min are both map-side-combinable aggs; the final
    // assembly is three equi-joins on doc_id/fp/cluster_id — no new
    // machinery beyond q45's clustering.
    "q73_dedup_disposition" -> ((s, d) => Cached { c =>
      val clusters = c.adopt(queries("q45_dedup_clusters")(s, d))
      dedupDispositionIn(c, documents(s, d), clusters)
    }),

    // Leak-free train/val/test split: q58 hash-splits per DOCUMENT, which
    // leaks — a near-duplicate pair split across train and eval means the
    // model is evaluated on (a paraphrase of) its own training data, the
    // contamination class decontamination (q67) cannot see because both
    // sides are corpus-internal. The fix every careful pipeline ships:
    // split by the near-dup CLUSTER (q45's components), so a whole
    // equivalence class lands on one side. Assignment is q58's md5-prefix
    // threshold device keyed on cluster_id under its own salt
    // ('leaksplit:'): row-local after clustering, engine-exact,
    // reproducible; 90/5/5 over the CLUSTER space (clusters, not docs,
    // are the iid units — exactly why doc-level splitting is wrong).
    // Scale shape: q45's bounded clustering + one row-local hash — no new
    // exchange. Caveat (inherent, not a bug): adding documents can MERGE
    // clusters, and a merged cluster re-hashes under the surviving
    // smaller id — split stability under growth holds exactly for docs
    // whose cluster membership is unchanged, a weaker-but-honest version
    // of q58's per-doc stability.
    "q117_leakfree_split" -> ((s, d) => {
      val clusters = queries("q45_dedup_clusters")(s, d)
      clusters
        .withColumn("h", substring(md5(concat(lit("leaksplit:"),
          col("cluster_id").cast("string"))), 1, 8))
        .select(col("doc_id"), col("cluster_id"),
          when(col("h") < StatsOps.trainBound, "train")
            .when(col("h") < StatsOps.valBound, "val")
            .otherwise("test").as("split"))
    })
  )

  /** q73's operator body, reusable over any (doc_id, text) frame plus its
    * (doc_id, cluster_id) near-dup clustering (q45's output, or any other
    * cluster source — the sf fixture has no normalized-identical twins, so
    * specs plant them through this seam).
    */
  private[operators] def dedupDisposition(docs: DataFrame,
      clusters: DataFrame): DataFrame =
    Cached(dedupDispositionIn(_, docs, clusters))

  /** [[dedupDisposition]] with its per-doc projection held in the caller's
    * scope `c`, so the q73 registration releases it together with the
    * clusters after ONE fill. The projection computes BOTH text
    * derivations (quality score and fingerprint) in one pass over the
    * corpus and pins the cluster join once — as separate subtrees
    * re-derived per consumer, the assembly's plan (three equi-joins off
    * two corpus scans) was free to flip with AQE/cache state across
    * windows. The held frame is (doc_id, score, fp, cluster_id).
    */
  private def dedupDispositionIn(c: Cached.Scope, docs: DataFrame,
      clusters: DataFrame): DataFrame = {
    // Not filled (nor widened): the racing recompute runs on idle cores,
    // which costs less wall than a fill's job barrier; the cache itself
    // stays because it pins the plan (OPTIMIZATION_r17.md).
    val scored = c.hold(docs
      .select(col("doc_id"),
        round(TextOps.qualityScoreCol(col("text")), 4).as("score"),
        TextOps.fingerprintCol(col("text")).as("fp"))
      .join(clusters, "doc_id"))
    val reps = scored
      .groupBy("cluster_id")
      .agg(min(struct((-col("score")).as("ns"), col("doc_id"))).as("best"))
      .select(col("cluster_id"), col("best.doc_id").as("rep_id"))
    val fpKeeper = scored.groupBy("fp").agg(min("doc_id").as("fp_keeper"))
    scored.join(fpKeeper, "fp")
      .join(reps, "cluster_id")
      .select(col("doc_id"),
        when(col("doc_id") === col("rep_id"), "kept")
          .when(col("doc_id") =!= col("fp_keeper"), "exact_dup")
          .otherwise("near_dup").as("status"),
        col("rep_id").as("kept_id"))
  }

  // Recursive-CTE transitive closure over the same candidate pairs —
  // tractable at oracle scale (tens of pairs at sf0.01), where the
  // closure's quadratic blowup cannot bite; the Spark side uses the
  // logarithmic star algorithm instead. Shared so q65 embeds it.
  private val q45OracleSql: String =
    s"""WITH RECURSIVE
       cand AS (SELECT id_a, id_b FROM (${DedupOps.oracle("q35_minhash_lsh")}) q35),
       edges AS (SELECT id_a AS a, id_b AS b FROM cand
                 UNION SELECT id_b, id_a FROM cand),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       comp AS (SELECT a, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
       SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
       FROM documents d LEFT JOIN comp c ON c.a = d.doc_id"""

  val oracle: Map[String, String] = Map(
    "q45_dedup_clusters" -> q45OracleSql,

    // q130: q45's oracle nested, one size aggregation, unit cluster mass.
    // CAST(1.0 AS DOUBLE) — a bare 1.0 is DECIMAL in DuckDB and the
    // division would come back DECIMAL, failing the schema compare.
    "q130_cluster_weights" ->
      s"""WITH c45 AS ($q45OracleSql),
          sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                 FROM c45 GROUP BY cluster_id)
          SELECT c.doc_id, c.cluster_id, s.cluster_size,
                 round(CAST(1.0 AS DOUBLE) / s.cluster_size, 6) AS weight
          FROM c45 c JOIN sz s USING (cluster_id)""",

    // q136: q130's weight CTEs nested, then the q63/q85 hash-threshold
    // device — bound = floor(round6-weight × 2³²) as 8 lowercase hex
    // digits, draw = first 8 md5 hex of the salted doc_id, with the
    // explicit weight >= 1.0 singleton guard.
    "q136_soft_dedup_sample" ->
      s"""WITH c45 AS ($q45OracleSql),
          sz AS (SELECT cluster_id, count(*) AS cluster_size
                 FROM c45 GROUP BY cluster_id),
          w AS (SELECT c.doc_id, CAST(c.cluster_id AS BIGINT) AS cluster_id,
                  round(CAST(1.0 AS DOUBLE) / s.cluster_size, 6) AS weight
                FROM c45 c JOIN sz s USING (cluster_id))
          SELECT doc_id, cluster_id, weight,
            CAST(weight >= 1.0 OR
              substr(md5('soft:' || CAST(doc_id AS VARCHAR)), 1, 8) <
              lower(lpad(hex(CAST(floor(weight * 4294967296.0) AS BIGINT)),
                8, '0'))
            AS BIGINT) AS admit
          FROM w""",

    // q132: q130's oracle nested, one token count, one source rollup. The
    // fraction divides the ROUNDED effective sum by the integer raw sum —
    // both already engine-agreed.
    "q132_dedup_impact" ->
      s"""WITH w AS (
            WITH c45 AS ($q45OracleSql),
            sz AS (SELECT cluster_id, count(*) AS cluster_size
                   FROM c45 GROUP BY cluster_id)
            SELECT c.doc_id,
                   round(CAST(1.0 AS DOUBLE) / s.cluster_size, 6) AS weight
            FROM c45 c JOIN sz s USING (cluster_id)),
          t AS (SELECT doc_id, source,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents),
          agg AS (
            SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
                   round(sum(w.weight), 6) AS effective_docs,
                   round(sum(w.weight * t.n_tokens), 6) AS effective_tokens
            FROM t JOIN w USING (doc_id) GROUP BY t.source)
          SELECT source, n_docs, n_tokens, effective_docs, effective_tokens,
                 round(CAST(1.0 AS DOUBLE) - effective_tokens / n_tokens, 6)
                   AS dup_token_frac
          FROM agg""",

    "q117_leakfree_split" ->
      s"""WITH clusters AS (SELECT * FROM ($q45OracleSql) c45)
         SELECT doc_id, cluster_id,
           CASE WHEN substring(md5('leaksplit:' || CAST(cluster_id AS VARCHAR)), 1, 8)
                     < '${StatsOps.trainBound}' THEN 'train'
                WHEN substring(md5('leaksplit:' || CAST(cluster_id AS VARCHAR)), 1, 8)
                     < '${StatsOps.valBound}' THEN 'val'
                ELSE 'test' END AS split
         FROM clusters""",

    "q65_cluster_reps" ->
      s"""WITH clusters AS (SELECT * FROM ($q45OracleSql) c45),
         scored AS (
           SELECT doc_id,
             round(least(1.0, n_tokens/200.0)
               * (CASE WHEN avg_wlen BETWEEN 2.5 AND 8.0 THEN 1.0 ELSE 0.5 END), 4) AS score
           FROM (
             SELECT doc_id,
                    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
                    (CAST(length(text) AS BIGINT) - CAST(len(string_split(text,' ')) AS BIGINT) + 1)
                      / CAST(len(string_split(text,' ')) AS BIGINT) AS avg_wlen
             FROM documents) a),
         ranked AS (
           SELECT c.cluster_id, s.doc_id, s.score,
                  row_number() OVER (PARTITION BY c.cluster_id
                                     ORDER BY s.score DESC, s.doc_id) AS rn,
                  count(*) OVER (PARTITION BY c.cluster_id) AS n_members
           FROM clusters c JOIN scored s USING (doc_id))
         SELECT cluster_id, doc_id AS rep_id, score AS rep_score, n_members
         FROM ranked WHERE rn = 1""",

    "q73_dedup_disposition" ->
      s"""WITH clusters AS (SELECT * FROM ($q45OracleSql) c45),
         scored AS (
           SELECT doc_id,
             round(least(1.0, n_tokens/200.0)
               * (CASE WHEN avg_wlen BETWEEN 2.5 AND 8.0 THEN 1.0 ELSE 0.5 END), 4) AS score
           FROM (
             SELECT doc_id,
                    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
                    (CAST(length(text) AS BIGINT) - CAST(len(string_split(text,' ')) AS BIGINT) + 1)
                      / CAST(len(string_split(text,' ')) AS BIGINT) AS avg_wlen
             FROM documents) a),
         reps AS (
           SELECT cluster_id, doc_id AS rep_id FROM (
             SELECT c.cluster_id, s.doc_id,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY s.score DESC, s.doc_id) AS rn
             FROM clusters c JOIN scored s USING (doc_id)) r WHERE rn = 1),
         fp AS (SELECT doc_id,
                  md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
                FROM documents),
         fpk AS (SELECT fp, min(doc_id) AS fp_keeper FROM fp GROUP BY fp)
         SELECT f.doc_id,
           CASE WHEN f.doc_id = r.rep_id THEN 'kept'
                WHEN f.doc_id != k.fp_keeper THEN 'exact_dup'
                ELSE 'near_dup' END AS status,
           CAST(r.rep_id AS BIGINT) AS kept_id
         FROM fp f
         JOIN fpk k USING (fp)
         JOIN clusters c USING (doc_id)
         JOIN reps r USING (cluster_id)""",

    "q62_embedding_clusters" ->
      s"""WITH RECURSIVE
         cand AS (SELECT ia, ib FROM (${SimilarityOps.oracle("q44_rp_lsh_neardup")}) q44),
         edges AS (SELECT ia AS a, ib AS b FROM cand
                   UNION SELECT ib, ia FROM cand),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
         SELECT v.vec_id, CAST(coalesce(c.cluster_id, v.vec_id) AS BIGINT) AS cluster_id
         FROM embeddings v LEFT JOIN comp c ON c.a = v.vec_id"""
  )
}
