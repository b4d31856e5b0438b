package graft.operators

import graft.SparkSpec

/** Pair-generation operators must never plan an all-pairs
  * BroadcastNestedLoopJoin / CartesianProduct (the r1 plan audit's 100 TB
  * veto): q36 uses Hamming-LSH band equi-joins, q39 the 1-Bucket-Theta
  * blocked pair equi-join, q40 LSH-candidate equi-joins. Also locks the
  * equivalence proofs: banding must reproduce the all-pairs result set.
  */
class PairPlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def executedPlan(q: String): String =
    graft.SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("q36/q39/q40/q44/q90 plans contain no BNLJ or CartesianProduct") {
    // q90 generates source pairs ROW-LOCALLY from each gram's collected
    // source set — the only joins left are the tiny per-source-total
    // lookups, which must stay hash joins (a Cartesian/BNLJ would mean
    // the jaccard join conditions stopped being equi, or the pair stage
    // regressed to a corpus-table self-join). Its queries entry
    // fills eagerly (graft.util.Cached), so the interesting plans
    // are the ones CAPTURED during that materialization: snapshot
    // executed plans via a listener instead of reading the post-cache
    // frame (whose plan is just the InMemoryRelation). The same capture
    // checks the one-corpus-exchange claim: pairs and totals both chain
    // off the groupBy(g) set-collection, so runtime exchange reuse must
    // collapse the gram explode (the q69/q82/q88 discipline).
    for (q <- Seq("q36_simhash", "q39_embedding_neardup", "q40_lsh_jaccard_verified",
        "q44_rp_lsh_neardup")) {
      val p = executedPlan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BroadcastNestedLoopJoin")
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct")
    }
    val captured = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        captured.synchronized { captured += qe.executedPlan.toString }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val res = graft.SparkEntry.queries("q90_source_overlap")(spark, d)
      res.unpersist(blocking = true)
      // deterministic drain (r10 ADVICE): the bus is async, so a settle
      // poll could both snapshot before a late plan lands (vacuously
      // missing a bad shape) and flake on a loaded machine. waitUntilEmpty
      // returns only once every queued event reached every listener, so
      // the snapshot below is complete by construction.
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      val plans = captured.synchronized(captured.toSeq)
      // non-vacuity: the pair stage's equi-join must be visible in at
      // least one captured plan before we assert the bad shapes absent
      assert(plans.exists(p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin")), "q90's materialization shows no equi-join")
      assert(plans.exists(p => p.contains("ReusedExchange") || p.contains("ReusedQueryStage")),
        "q90 re-ran the corpus gram explode instead of reusing the groupBy(g) exchange")
      for (p <- plans) {
        assert(!p.contains("BroadcastNestedLoopJoin"), "q90 plans a BroadcastNestedLoopJoin")
        assert(!p.contains("CartesianProduct"), "q90 plans a CartesianProduct")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("dedup chain survives documents with fewer than 3 tokens (ANSI-safe shingles)") {
    // the unguarded shingle sequence indexed past the token array, which
    // THROWS under default ANSI mode (Spark 4.1.2) on any 1- or 2-token
    // document; short docs must instead have no shingles — never
    // candidates, singleton clusters
    val sp = spark
    import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_shortdocs")
    Seq(
      (0L, "a", "en", "src0", 1L),
      (1L, "a b", "en", "src0", 3L),
      (2L, "one two three four five six", "en", "src1", 27L),
      (3L, "one two three four five six", "en", "src1", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(tmp.resolve("documents.parquet").toString)
    val pairs = DedupOps.queries("q34_ngram_jaccard")(sp, tmp.toString)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((2L, 3L)), "only the 3+-token twins may pair")
    pairs.unpersist(blocking = true)
    val clusters = GraphOps.queries("q45_dedup_clusters")(sp, tmp.toString)
    val byDoc = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L),
      "short docs must be singleton clusters, twins share one")
    clusters.unpersist(blocking = true)
    sp.catalog.clearCache()
  }

  test("q67 decontamination matches a driver-side recompute and broadcasts the eval grams") {
    val res = graft.operators.DedupOps.queries("q67_decontam_flags")(spark, d)
    val got = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent recompute: sliding-window 5-grams in plain Scala
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    def grams(t: Array[String]): Set[String] =
      if (t.length < 5) Set.empty else t.sliding(5).map(_.mkString(" ")).toSet
    val evalGrams = docs.filter(_._1 < 10).flatMap(g => grams(g._2)).toSet
    val expected = docs.filter(_._1 >= 10)
      .map { case (id, t) => id -> grams(t).count(evalGrams.contains).toLong }
      .filter(_._2 > 0).toMap
    assert(got === expected)
    // the eval-gram side must broadcast — a corpus gram-shuffle here would
    // be the wrong plan at any scale
    val p = res.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "eval grams not broadcast")
    assert(!p.contains("SortMergeJoin"), "gram join fell back to a corpus shuffle")
  }

  test("q44 RP-LSH pairs are an exactly-verified subset of q39's pairs") {
    val lsh = graft.operators.SimilarityOps.queries("q44_rp_lsh_neardup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = graft.operators.SimilarityOps.queries("q39_embedding_neardup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh.nonEmpty, "LSH found no pairs — bands are misconfigured")
    assert(lsh.subsetOf(exact),
      s"LSH emitted non-verified pairs: ${lsh.diff(exact)}")
  }

  test("q39 blocked pair join equals brute-force all-pairs") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    VectorFunctions.register(spark)
    val base = spark.read.parquet(s"$d/embeddings.parquet")
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
    val a = base.select(col("vec_id").as("ia"), col("e").as("ea"), col("nrm").as("na"))
    val b = base.select(col("vec_id").as("ib"), col("e").as("eb"), col("nrm").as("nb"))
    val brute = a.join(b, col("ia") < col("ib"))
      .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cos") >= 0.45)
      .select(col("ia"), col("ib"), round(col("cos"), 6).as("cos"))
      .collect().map(_.toSeq).toSet
    val blocked = SimilarityOps.queries("q39_embedding_neardup")(spark, d)
      .collect().map(_.toSeq).toSet
    assert(blocked == brute)
  }

  test("q44 blocked bucket join equals the plain (band,sig) self-join's candidates") {
    // the r11 1-Bucket-Theta device WITHIN each LSH bucket (hot-bucket
    // split + AQE-coalesce exemption) must be a pure re-plan: same
    // distinct candidate set as the plain bucket self-join it replaced
    import org.apache.spark.sql.functions._
    val sigs = SimilarityOps.rpLshSigsAt(spark, d, 6, 8)
    val plain = sigs.select(col("vec_id").as("ia"), col("band"), col("sig"))
      .join(sigs.select(col("vec_id").as("ib"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("ia") < col("ib"))
      .select("ia", "ib").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = spark.read.parquet(s"$d/embeddings.parquet")
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
    val blocked = SimilarityOps.rpLshCandidates(spark, base, 6, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.nonEmpty, "no candidates on the fixture corpus")
    assert(blocked == plain,
      s"blocked minus plain: ${blocked.diff(plain).take(5)}; " +
        s"plain minus blocked: ${plain.diff(blocked).take(5)}")
  }

  test("q36 degenerate skew: one hot simhash value stays row-shaped (no id arrays)") {
    // r3 hazard: collect_list(doc_id) per simhash value put every id of a
    // hot value into ONE task row — a degenerate corpus OOMs a single task.
    // The r4 plan joins a (simhash, doc_id) pair table instead: a hot value
    // is a hot JOIN KEY (streamed by SMJ, spilled by the sorter), never an
    // unbounded array. Assert both the structure (no collect_list anywhere
    // in the plan) and the arithmetic on a synthetic hot-value corpus.
    // (Pair OUTPUT is inherently O(n²) — that's the operator's contract —
    // so the spec sizes n for spec-runtime, not for literal 100k docs; the
    // structural assert is what outlaws the single-row blowup at any n.)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hotN = 5000L
    val hot = spark.range(hotN).select(col("id").as("doc_id"), lit(7L).as("simhash"))
    val near = Seq((900001L, 5L), (900002L, 5L), (900003L, 5L)) // 7 xor 5 = 2 → dist 2
      .toDF("doc_id", "simhash")
    val far = Seq((900010L, 56L), (900011L, 56L)) // 7 xor 56 = 63 → dist 6, excluded
      .toDF("doc_id", "simhash")
    // the raw pair frame keeps the join structure visible in executedPlan
    // (the persisted path collapses to InMemoryTableScan)
    val pairs = DedupOps.simhashPairFrame(hot.unionByName(near).unionByName(far))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), "q36 pair plan rebuilt an id array")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    // C(hotN,2) same-value + C(3,2) near same-value + C(2,2) far same-value
    // + hotN×3 cross at dist 2; far value pairs with nothing (dist 6)
    val expected = hotN * (hotN - 1) / 2 + 3 + 1 + hotN * 3
    assert(pairs.count() === expected)
    spark.catalog.clearCache()
  }

  test("graft_minhash_lanes is bit-identical to the SQL sha256 lane formulation") {
    // the native expression must reproduce the interpreted SQL (and thus
    // the DuckDB oracle) exactly: same sha256, same 8-hex lowercase slices,
    // same minima
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    val docs = graft.ScaleSmoke.generate(spark, 500)
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), expr(
        "transform(sequence(1, greatest(size(t)-2, 1)), i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2)))").as("sh"))
    val both = sh
      .withColumn("fast", expr("graft_minhash_lanes(sh)"))
      .withColumn("ms", expr("transform(sh, x -> sha2(x, 256))"))
      .withColumn("slow", array((0 until 8).map(i =>
        expr(s"array_min(transform(ms, m -> substring(m, ${1 + 8 * i}, 8)))")): _*))
      .select("doc_id", "fast", "slow")
      .collect()
    assert(both.length === 500)
    both.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), s"doc ${r.get(0)}")
    }
  }

  test("q35 LSH precision and recall on a planted corpus (32-bit lanes)") {
    // ADVICE r5: 16-bit minhash lanes made unrelated docs tie on a lane with
    // probability ~n/65536, growing candidates quadratically. With 32-bit
    // lanes the expected spurious-candidate count on 5,000 unrelated ~50-word
    // docs is ≪1 — assert EXACTLY the planted near-dup pairs come back:
    // zero spurious (precision) and none missed (recall; pairwise Jaccard
    // ≈0.9 → band-collision probability ~1 at 4 bands of 2).
    val docs = graft.ScaleSmoke.generate(spark, 5000)
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.queries("q35_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (1 until 5000).filter(_ % 33 == 0).map(i => (i.toLong - 1, i.toLong)).toSet
    assert(got === planted,
      s"spurious: ${(got -- planted).take(5)}; missed: ${(planted -- got).take(5)}")
    spark.catalog.clearCache()
  }

  test("q49 lane-agreement estimator tracks exact Jaccard on planted near-dups") {
    // Broder's estimator: E[agree/k] = J, sd = sqrt(J(1-J)/k) ≈ 0.11 at
    // J ≈ 0.9, k = 8 — the MEAN error over ~150 planted pairs concentrates
    // near sd/sqrt(pairs), so a 0.15 mean-error bar has huge slack while
    // still catching a broken estimator (e.g. comparing the wrong lanes,
    // which scores ~J·(spurious agreement) ≈ 0).
    val docs = graft.ScaleSmoke.generate(spark, 5000)
    val dir = java.nio.file.Files.createTempDirectory("graft_est").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupOps.queries("q49_minhash_estimate")(spark, dir).collect()
    assert(rows.length > 100, s"only ${rows.length} candidate pairs")
    val errs = rows.map(r => math.abs(r.getDouble(2) - r.getDouble(3)))
    val meanErr = errs.sum / errs.length
    assert(meanErr < 0.15, f"mean |est - exact| = $meanErr%.3f")
    // and the estimate must genuinely discriminate: planted pairs are
    // J ≈ 0.9, so the mean estimate must sit far above 0.5
    val meanEst = rows.map(_.getDouble(2)).sum / rows.length
    assert(meanEst > 0.6, f"mean estimate $meanEst%.3f too low")
    spark.catalog.clearCache()
  }

  test("q34 frequent-shingle guard drops hot shingles before the self-join") {
    // a stop-shingle shared by every document would make its self-join
    // bucket quadratic in corpus size; the guard (df > maxShingleDf) must
    // remove it so the surviving buckets are rare-shingle-sized
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val nDocs = DedupOps.maxShingleDf * 3 // well past the guard threshold
    val docs = spark.range(nDocs.toLong).select(col("id").as("doc_id"),
      concat(lit("the quick brown fox "), col("id").cast("string"),
        lit(" unique tail")).as("text"))
    // same shingle pipeline as q34: word 3-grams, distinct, df-guarded
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(t)-2, 1)), i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2)))")).as("s"))
      .distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
    val guarded = sh.filter(col("df") <= DedupOps.maxShingleDf)
    // 'the quick brown' and 'quick brown fox' appear in all 300 docs → cut;
    // every per-doc shingle ('fox <id> unique' etc.) survives
    assert(sh.filter(col("df") > DedupOps.maxShingleDf).select("s").distinct().count() === 2)
    val maxSurvivingDf = guarded.agg(max("df")).as[Long].head()
    assert(maxSurvivingDf <= DedupOps.maxShingleDf,
      s"guard left a shingle with df=$maxSurvivingDf")
  }

  test("q36 Hamming-LSH banding equals brute-force all-pairs simhash") {
    // dist ≤ 2 over 4 bands of 4 bits ⇒ ≥ 2 clean bands ⇒ candidate —
    // the result sets must be identical, not merely similar
    import org.apache.spark.sql.functions._
    val banded = DedupOps.queries("q36_simhash")(spark, d).collect().map(_.toSeq).toSet
    // brute force re-derivation from the same signature definition
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h16", expr(
        """(instr('0123456789abcdef', substr(md5(w),1,1))-1)*4096 +
           (instr('0123456789abcdef', substr(md5(w),2,1))-1)*256 +
           (instr('0123456789abcdef', substr(md5(w),3,1))-1)*16 +
           (instr('0123456789abcdef', substr(md5(w),4,1))-1)"""))
    val voteAggs = (0 until 16).map(b =>
      sum(expr(s"CASE WHEN (h16 DIV ${1 << b}) % 2 = 1 THEN 1 ELSE -1 END")).as(s"v$b"))
    val votes = tok.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    val sim = votes.select(col("doc_id") +:
      Seq(expr((0 until 16).map(b => s"(CASE WHEN v$b > 0 THEN ${1 << b} ELSE 0 END)")
        .mkString(" + ")).cast("long").as("simhash")): _*)
    val brute = sim.as("a").join(sim.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", expr("bit_count(CAST(a.simhash AS INT) ^ CAST(b.simhash AS INT))").cast("long"))
      .filter(col("dist") <= 2)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("dist"))
      .collect().map(_.toSeq).toSet
    assert(banded == brute)
  }

  test("q109 LSH planner: closed-form S-curve values; per-budget 0.8-target choices") {
    val all = DedupOps.lshPlan(spark).collect()
    val by128 = all.filter(_.getLong(0) == 128L).map(r => r.getLong(1) -> r).toMap
    val by8 = all.filter(_.getLong(0) == 8L).map(r => r.getLong(1) -> r).toMap
    // all factorizations of each budget, r = lanes/b
    assert(by128.keySet == Set(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L))
    assert(by8.keySet == Set(1L, 2L, 4L, 8L))
    by128.foreach { case (b, r) => assert(r.getLong(2) == 128L / b) }
    // hand-computed thresholds (1/b)^(1/r) at 6 decimals
    assert(by128(8L).getDouble(3) == math.rint(math.pow(1.0 / 8, 1.0 / 16) * 1e6) / 1e6)
    assert(by128(16L).getDouble(3) == math.rint(math.pow(1.0 / 16, 1.0 / 8) * 1e6) / 1e6)
    // q35's deployed geometry (4 bands × 2 rows on the 8-lane budget)
    // sits at curve threshold exactly 0.5 — the recall-leaning choice
    assert(by8(4L).getLong(2) == 2L && by8(4L).getDouble(3) == 0.5)
    // 0.8-target winners: |0.8780-0.8| wins at 128 (b=8, r=16);
    // |0.8409-0.8| wins at 8 (b=2, r=4)
    assert(by128.values.filter(_.getLong(8) == 1L).map(_.getLong(1)).toSeq == Seq(8L))
    assert(by8.values.filter(_.getLong(8) == 1L).map(_.getLong(1)).toSeq == Seq(2L))
    // more bands ⇒ curve shifts left: capture probability at fixed s is
    // monotone in b at every grid point, within each budget
    for (m <- Seq(by128, by8); i <- 4 to 7) {
      val bySize = m.toSeq.sortBy(_._1).map(_._2.getDouble(i))
      assert(bySize == bySize.sorted, s"p_at column $i not monotone in b")
    }
  }

  test("q111 recall audit reconciles exactly with the q34 truth and q35 candidate sets") {
    val truth = graft.SparkEntry.queries("q34_ngram_jaccard")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cand = graft.SparkEntry.queries("q35_minhash_lsh")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val audit = DedupOps.lshRecallAudit(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap

    def bucket(j: Double): String =
      if (j < 0.5) "j_03_05" else if (j < 0.7) "j_05_07"
      else if (j < 0.9) "j_07_09" else "j_09_10"
    val byBucket = truth.groupBy { case (_, j) => bucket(j) }
    byBucket.foreach { case (b, m) =>
      val hits = m.keys.count(cand.contains)
      val (nT, nH, nC, rec, _) = audit(b)
      assert(nT == m.size && nH == hits && nC == 0L)
      assert(rec == ((2L * hits * 10000 + m.size) / (2L * m.size)) / 10000.0)
    }
    // no phantom buckets beyond the truth's own + the all row
    assert(audit.keySet == byBucket.keySet + "all")
    val (nT, nH, nC, rec, prec) = audit("all")
    val hitsAll = truth.keys.count(cand.contains)
    assert(nT == truth.size && nH == hitsAll && nC == cand.size)
    assert(rec == ((2L * hitsAll * 10000 + truth.size) / (2L * truth.size)) / 10000.0)
    assert(prec == ((2L * hitsAll * 10000 + cand.size) / (2L * cand.size)) / 10000.0)
  }

  test("q44 auto band width: deterministic, pinned fixture pick, plan equals the manual setting") {
    // r12: b self-selects from measured bit marginals (autoBandBits).
    // Deterministic by construction (md5 hyperplanes, integer marginal
    // counts) — call twice and pin. The fixture corpus is far under the
    // 768-background-pairs/vec budget, so the pick must be b0 = 8, the
    // oracle-pinned geometry; and the auto path must be a pure
    // delegation: same optimized plan (sameResult) and same verified
    // pair set as the hand-set width.
    val b1 = SimilarityOps.autoBandBitsAt(spark, d, 6)
    val b2 = SimilarityOps.autoBandBitsAt(spark, d, 6)
    assert(b1 === b2, "auto band width is not deterministic")
    assert(b1 === 8, s"fixture corpus picked b=$b1, expected the b0=8 floor")
    val auto = SimilarityOps.rpLshNearDupAutoAt(spark, d, 6)
    val manual = SimilarityOps.rpLshNearDupAt(spark, d, 6, b1)
    assert(auto.queryExecution.optimizedPlan.sameResult(
      manual.queryExecution.optimizedPlan),
      "auto path's optimized plan differs from the manual setting's")
    assert(auto.collect().map(_.toSeq).toSet ===
      manual.collect().map(_.toSeq).toSet)
  }

  test("q35 auto band geometry: deterministic measured pick, feasibility rule holds, plan equals manual") {
    // r13 (verdict #8): the MinHash band geometry self-selects from
    // measured lane agreement (lshGeometryAuto). On the planted corpus
    // (J ≈ 0.9 neighbor pairs) the pick must be deterministic, satisfy
    // its own rule (highest curve threshold whose S-curve capture at the
    // measured ĵ clears 0.9 — and every more-precise factorization must
    // fail it), and the auto candidate path must be a pure delegation:
    // same optimized plan and same candidate set as the manual setting.
    val docs = graft.ScaleSmoke.generate(spark, 3000)
    val g1 = DedupOps.lshGeometryAuto(docs)
    val g2 = DedupOps.lshGeometryAuto(docs)
    assert(g1 === g2, "auto geometry is not deterministic")
    assert(g1.bands * g1.rows === 8)
    assert(g1.jhat >= 0.3, s"planted near-dups must register: $g1")
    def capture(b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(g1.jhat, r), b)
    def thr(b: Int, r: Int): Double = math.pow(1.0 / b, 1.0 / r)
    assert(capture(g1.bands, g1.rows) >= 0.9,
      f"chosen geometry misses its own recall floor: capture=${capture(g1.bands, g1.rows)}%.4f")
    for (b <- Seq(1, 2, 4, 8); r = 8 / b
         if thr(b, r) > thr(g1.bands, g1.rows))
      assert(capture(b, r) < 0.9,
        s"a more precise feasible geometry ($b x $r) was skipped")
    val auto = DedupOps.lshCandidatesAuto(docs)
    val manual = DedupOps.lshCandidatesAt(docs, g1.bands, g1.rows)
    assert(auto.queryExecution.optimizedPlan.sameResult(
      manual.queryExecution.optimizedPlan),
      "auto path's optimized plan differs from the manual setting's")
    val a = auto.collect().map(_.toSeq).toSet
    val m = manual.collect().map(_.toSeq).toSet
    auto.unpersist(blocking = true)
    manual.unpersist(blocking = true)
    assert(a.nonEmpty && a === m)
    // and the deployed (4, 2) remains exactly q35's candidate set
    val deployed = DedupOps.lshCandidatesAt(docs, 4, 2)
    val fixed = DedupOps.lshCandidates(docs)
    assert(deployed.queryExecution.optimizedPlan.sameResult(
      fixed.queryExecution.optimizedPlan))
    deployed.unpersist(blocking = true)
    fixed.unpersist(blocking = true)
    spark.catalog.clearCache()
  }

  test("q105/q106 blocked Hamming bucket join equals the plain (band,v) self-join") {
    // the r12 1-Bucket-Theta split inside hammingNearDup must be a pure
    // re-plan: same verified pair set as the plain bucket self-join it
    // replaced, on a mixed corpus (hash groups + near-values + noise)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 12 groups of 25 sharing a hash, per-group a variant at Hamming 2,
    // plus 60 spread singletons
    val rows = (0 until 12).flatMap { g =>
      val base = (0x1234L * (g + 1)) & ((1L << 56) - 1)
      (0 until 25).map(i => (g * 100L + i, base)) :+
        (g * 100L + 99, base ^ 5L) // bits 0 and 2 → Hamming 2
    } ++ (0 until 60).map(i => (10000L + i, (0x9E3779B97F4AL * (i + 1)) & ((1L << 56) - 1)))
    val hashes = rows.toDF("doc_id", "dhash")
    val sigs = hashes.select(col("doc_id"), explode(expr(
      """transform(sequence(0, 3),
           b -> struct(b AS band, shiftright(dhash, b * 14) & 16383 AS v))""")).as("s"))
      .select(col("doc_id"), col("s.band").as("band"), col("s.v").as("v"))
    val plainCands = sigs.select(col("doc_id").as("ia"), col("band"), col("v"))
      .join(sigs.select(col("doc_id").as("ib"), col("band"), col("v")), Seq("band", "v"))
      .filter(col("ia") < col("ib")).select("ia", "ib").distinct()
    val ha = hashes.select(col("doc_id").as("ia"), col("dhash").as("hA"))
    val hb = hashes.select(col("doc_id").as("ib"), col("dhash").as("hB"))
    val plain = plainCands.join(ha, "ia").join(hb, "ib")
      .withColumn("hamming", expr("cast(bit_count(hA ^ hB) as bigint)"))
      .filter(col("hamming") <= 3).select("ia", "ib", "hamming")
      .collect().map(_.toSeq).toSet
    val blocked = MultimodalOps.hammingNearDup(hashes)
    val got = blocked.collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "no pairs on the planted corpus")
    assert(got == plain,
      s"blocked minus plain: ${got.diff(plain).take(5)}; " +
        s"plain minus blocked: ${plain.diff(got).take(5)}")
  }

  test("q105/q106 degenerate one-hash corpus: split plan, closed-form pair set") {
    // the r11 verdict's weak finding: a solid-color/template corpus
    // collapses every dHash to ONE value, all 4 bands collide, and the
    // unsplit join put n(n-1)/2 pairs in ONE task. Plant 10,000
    // identical-hash docs and pin (a) the candidate set in closed form
    // (count + id-sum checksums — collecting 50M pairs is the thing the
    // split exists to avoid), (b) the split's explicit repartition on
    // (band, v, ba, bb) in the executed plan, AQE-coalesce-exempt.
    import org.apache.spark.sql.functions._
    val n = 10000L
    val hashes = spark.range(n)
      .select(col("id").as("doc_id"), lit(0x00DEADBEEFCAFEL).as("dhash"))
    val dup = MultimodalOps.hammingNearDup(hashes)
    val plan = dup.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      "hot-bucket split's explicit repartition is missing from the plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    val agg = dup.agg(
      count(lit(1)).as("n"),
      sum(col("ia")).as("sa"),
      sum(col("ib")).as("sb"),
      max(col("hamming")).as("mh")).collect()(0)
    // all pairs ia<ib over ids 0..n-1: each id i appears (n-1-i) times as
    // ia and i times as ib → sum(ia)=Σ i(n-1-i), sum(ib)=Σ i·i... both
    // reduce to the closed forms below; hamming identically 0
    val pairs = n * (n - 1) / 2
    val sumIds = n * (n - 1) / 2 // Σ ids
    val sumSq = (n - 1) * n * (2 * n - 1) / 6
    assert(agg.getLong(0) === pairs)
    assert(agg.getLong(1) === (n - 1) * sumIds - sumSq) // Σ i(n-1-i)
    assert(agg.getLong(2) === sumSq) // Σ i·i appearances as ib
    assert(agg.getLong(3) === 0L)
  }
}
