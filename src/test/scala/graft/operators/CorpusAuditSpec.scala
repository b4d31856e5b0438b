package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The r10 corpus-audit additions over crafted corpora: q87 binary asset
  * dedup (planted duplicate payloads — the sf fixture is duplicate-free at
  * the oracle's scale), q88 bigram-LM surprisal (repetition must score
  * LOWER than novelty, sub-2-token docs drop), q89 char entropy (closed-form
  * values on uniform alphabets, the empty-text guard), q90 cross-source
  * 5-gram overlap (identical sources → Jaccard 1, disjoint sources → no
  * pair row, the cache contract).
  */
class CorpusAuditSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  private def docsDf(rows: Seq[(Long, String, String)]) =
    spark.createDataFrame(
      rows.map { case (i, t, s) => Row(i, t, s) }.asJava, docSchema)

  // ---- q87 asset dedup ----

  test("q87: planted duplicate payloads collapse to one group, min id kept") {
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("media", BinaryType, nullable = false)))
    val blobA = Array[Byte](0x47, 0x52, 0x46, 0x54, 1, 2, 3)
    val blobB = Array[Byte](0x47, 0x52, 0x46, 0x54, 9, 9, 9, 9)
    val media = spark.createDataFrame(
      Seq(Row(5L, blobA), Row(2L, blobA), Row(7L, blobB)).asJava, mediaSchema)

    val out = MultimodalOps.assetDedup(media).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size == 2)
    val dup = out.values.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 2L)  // keep_id = min(doc_id)
    assert(dup.getLong(3) == 7L)  // n_bytes of blobA
    assert(dup.getLong(4) == 1L)  // is_dup
    val single = out.values.find(_.getLong(1) == 1L).get
    assert(single.getLong(2) == 7L && single.getLong(4) == 0L)
  }

  // ---- q88 bigram surprisal ----

  test("q88: repeated bigrams score lower than novel ones; <2-token docs drop") {
    val repeated = Seq.fill(40)("alpha beta").mkString(" ")  // "beta alpha" + "alpha beta" dominate
    val novel = (0 until 80).map(i => s"tok$i").mkString(" ")
    val docs = docsDf(Seq(
      (1L, repeated, "a"), (2L, novel, "a"), (3L, "single", "a")))

    val rows = TextOps.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(!rows.contains(3L)) // no bigram positions → no row (oracle shares)
    assert(rows(1L)._2 == 79L && rows(2L)._2 == 79L)
    assert(rows(1L)._1 < rows(2L)._1)
    // the micro-bit device promises int/10⁴ outputs — exact 4-decimal doubles
    rows.values.foreach { case (v, _) =>
      assert(v == math.rint(v * 10000) / 10000.0)
    }
  }

  // ---- q89 char entropy ----

  test("q89: closed-form entropies and the empty-text guard") {
    val docs = docsDf(Seq(
      (1L, "aaaa", "a"),  // one symbol → 0 bits
      (2L, "abab", "a"),  // two equiprobable → 1 bit
      (3L, "abcd", "a"),  // four equiprobable → 2 bits
      (4L, "", "a")))     // empty: the split('','') = [""] trap

    val out = TextOps.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((4L, 1L, 0.0)))
    assert(out(2L) == ((4L, 2L, 1.0)))
    assert(out(3L) == ((4L, 4L, 2.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("q89 is shuffle-free (row-local HOFs)") {
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val docs = docsDf(Seq((1L, "some text", "a")))
      val plan = TextOps.charEntropy(docs).queryExecution.executedPlan
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty)
    } finally conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  // ---- q90 source overlap ----

  test("q90: identical sources Jaccard 1, disjoint sources never pair") {
    val shared = (0 until 20).map(i => s"w$i").mkString(" ")
    val other = (100 until 120).map(i => s"v$i").mkString(" ")
    val docs = docsDf(Seq(
      (1L, shared, "mirror1"), (2L, shared, "mirror2"), (3L, other, "alone")))

    val out = DedupOps.sourceOverlap(docs)
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    out.unpersist()
    assert(rows.keySet == Set(("mirror1", "mirror2")))
    assert(rows(("mirror1", "mirror2")) == ((16L, 1.0))) // 20 tokens → 16 5-grams
  }

  // ---- q110 per-source Jensen-Shannon divergence ----

  test("q110: identical distributions JSD 0, disjoint vocabularies JSD 1, bounds hold") {
    val shared = (0 until 20).map(i => s"w$i").mkString(" ")
    val other = (100 until 120).map(i => s"v$i").mkString(" ")
    val half = ((0 until 10).map(i => s"w$i") ++ (200 until 210).map(i => s"u$i")).mkString(" ")
    val docs = docsDf(Seq(
      (1L, shared, "mirror1"), (2L, shared, "mirror2"),
      (3L, other, "alone"), (4L, half, "halfway")))

    val rows = StatsOps.sourceDivergence(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // every unordered pair reports exactly once, s1 < s2
    assert(rows.keySet == Set(
      ("alone", "halfway"), ("alone", "mirror1"), ("alone", "mirror2"),
      ("halfway", "mirror1"), ("halfway", "mirror2"), ("mirror1", "mirror2")))
    // identical unigram distributions → JSD exactly 0 over the 20 shared words
    assert(rows(("mirror1", "mirror2")) == ((20L, 0.0)))
    // disjoint vocabularies → JSD exactly 1 (log2 base), union = 40 words
    assert(rows(("alone", "mirror1")) == ((40L, 1.0)))
    // half-overlapping: strictly between, and closer to the mirrors than
    // to the disjoint source
    val hm = rows(("halfway", "mirror1"))
    assert(hm._1 == 30L && hm._2 > 0.0 && hm._2 < 1.0)
    assert(rows(("alone", "halfway"))._2 > hm._2)
    // JSD is int/10⁶ by the nano-bit device
    rows.values.foreach { case (_, v) => assert(v == math.rint(v * 1e6) / 1e6) }
  }

  // ---- q108 held-out trigram Stupid Backoff ----

  test("q108: each backoff branch fires where planted; surprisal orders tri < bigram < floor") {
    // Model half = even doc_ids. doc 0's trigram positions are
    // (a,b,c),(b,c,a),(c,a,b),... so slot-(2,3) pairs {(b,c),(c,a),(a,b)}
    // are in the model's bigram projection.
    val docs = docsDf(Seq(
      (0L, Seq.fill(10)("a b c").mkString(" "), "a"), // train
      (2L, "x y z", "a"),                             // train
      (1L, "a b c", "a"),   // held out, trigram in model      → branch 1
      (3L, "q b c", "a"),   // novel trigram, (b,c) bigram seen → branch 2
      (5L, "n1 n2 n3", "a"),// all-novel words → add-one floor  → branch 3
      (7L, "one two", "a")))// <3 tokens → no trigram positions → no row

    val out = TextOps.trigramBackoffSurprisal(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(!out.contains(7L))
    assert(out(1L)._3 == 1L && out(1L)._4 == 0L && out(1L)._5 == 0L)
    assert(out(3L)._3 == 0L && out(3L)._4 == 1L && out(3L)._5 == 0L)
    assert(out(5L)._3 == 0L && out(5L)._4 == 0L && out(5L)._5 == 1L)
    // a model hit beats a 0.4-damped bigram backoff beats the unigram floor
    assert(out(1L)._1 < out(3L)._1 && out(3L)._1 < out(5L)._1)
    // training docs score under the model they defined — all branch-1
    assert(out(0L)._4 == 0L && out(0L)._5 == 0L)
    // the micro-bit device promises int/10⁴ outputs
    out.values.foreach { case (v, _, _, _, _) =>
      assert(v == math.rint(v * 10000) / 10000.0)
    }
  }

  // ---- q91 BPE-ish token counting ----

  test("q91: GPT-2-style pre-tokenizer count on a crafted sentence; exact ratio device") {
    val docs = docsDf(Seq(
      (1L, "It's 2026, Dr. Smith-Jones owes $1,234.56!", "a"),
      (2L, "plain words only here", "a")))
    val out = TextOps.bpeTokenStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // hand-tokenized under the portable pattern: It|'s| 2026|,| Dr|.| Smith|
    // -|Jones| owes| $|1|,|234|.|56|! → 17 (the punct branch is
    // space-prefixable — ` ?[^\s\p{L}\p{N}]+` — so ' $' is ONE token)
    assert(out(1L)._1 == 6L && out(1L)._2 == 17L)
    assert(out(1L)._3 == 2.8333) // (2*170000+6) div 12 = 28333 → int/10⁴
    assert(out(2L)._1 == 4L && out(2L)._2 == 4L && out(2L)._3 == 1.0)
  }

  // ---- q92 winnowing fingerprints ----

  test("q92: fingerprints are window minima, identical docs share digests, short docs degrade") {
    val text = (0 until 20).map(i => s"w$i").mkString(" ") // 18 grams, 15 windows
    val docs = docsDf(Seq(
      (1L, text, "a"), (2L, text, "b"),          // identical → same digest
      (3L, "a b c", "a"),                        // 1 gram < w → global min
      (4L, "a b", "a")))                         // no grams
    val out = TextOps.winnowFingerprints(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L)._1 == 18L)
    assert(out(1L)._2 >= 1L && out(1L)._2 <= 15L) // ≤ one selection per window
    assert(out(1L)._3 == out(2L)._3, "identical docs must share the digest")
    assert(out(3L) == ((1L, 1L, out(3L)._3)))
    assert(out(4L)._1 == 0L && out(4L)._2 == 0L)
    // the empty-fingerprint digest is md5('') — the convention the oracle
    // must reproduce (DuckDB's array_to_string of an empty list is NULL,
    // which the oracle coalesces to '' for exactly this row shape)
    assert(out(4L)._3 == "d41d8cd98f00b204e9800998ecf8427e")
    // winnowing's coverage guarantee: a doc sharing a ≥ k+w-1 = 6-token run
    // with doc 1 shares at least one fingerprint value
    val overlapping = docsDf(Seq(
      (1L, text, "a"),
      (5L, "x1 x2 " + (3 until 9).map(i => s"w$i").mkString(" ") + " y1 y2", "a")))
    val fps = TextOps.winnowFingerprints(overlapping) // digests differ, so go to values
    // recompute selected values per doc via the same body's upstream arrays
    val vals = overlapping
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("hs", expr(
        """transform(transform(sequence(1, size(t) - 2),
               i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
                 element_at(t, i + 2))),
             g -> cast(conv(substring(md5(g), 1, 12), 16, 10) as bigint))"""))
      .withColumn("fp", explode(expr(
        "array_distinct(transform(sequence(1, greatest(size(hs) - 3, 1)), i -> array_min(slice(hs, i, 4))))")))
      .select("doc_id", "fp").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = vals.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(fps.count() == 2)
    assert((byDoc(1L) & byDoc(5L)).nonEmpty,
      "shared 6-token run must contribute a common fingerprint")
  }

  // ---- q94 source report ----

  test("q94: hand-computed datasheet row (counts, exact mean quality, keep rate)") {
    // fluent: 81 tokens of 4 chars → q38 score = 81/200 = 0.405 exactly
    // (q4 = 4050), passes all Gopher gates; junk: 60 numeric 5-char
    // tokens → q38's word-LENGTH band is satisfied (avg 5.0 ∈ [2.5, 8])
    // so score = 60/200 = 0.30 (q4 = 3000), but the Gopher alpha and
    // stopword gates both fail — quality score and rule gates measure
    // different things, which is exactly why the report carries both
    val fluent = (Seq.fill(77)("data") ++ Seq("the", "a", "of", "and")).mkString(" ")
    val junk = Seq.fill(60)("12345").mkString(" ")
    val docs = docsDf(Seq((1L, fluent, "s1"), (2L, junk, "s1"), (3L, fluent, "s2")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_report")
    docs.withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(tmp.resolve("documents.parquet").toString)
    val rows = StatsOps.queries("q94_source_report")(spark, tmp.toString)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(rows("s1") == ((2L, 141L, 0.3525, 0.5))) // mean(4050,3000)=3525
    assert(rows("s2") == ((1L, 81L, 0.405, 1.0)))
  }

  // ---- q93 containment ----

  test("q93: quote-inclusion scores ~1 on containment while q34's Jaccard misses it") {
    val sp = spark
    import sp.implicits._
    val quoted = (0 until 10).map(i => s"q$i").mkString(" ")
    val long = quoted + " " + (0 until 100).map(i => s"body$i").mkString(" ")
    val other = (0 until 20).map(i => s"z$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_containment")
    Seq(
      (1L, quoted, "en", "src0", quoted.length.toLong),
      (2L, long, "en", "src0", long.length.toLong),
      (3L, other, "en", "src0", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(tmp.resolve("documents.parquet").toString)

    val cont = DedupOps.queries("q93_containment")(sp, tmp.toString)
    val got = cont.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    cont.unpersist(blocking = true)
    // doc 1's 8 shingles all appear in doc 2 → cont_a = 1.0; doc 2 has 108
    assert(got.keySet == Set((1L, 2L)), "only the quote-inclusion pair may clear 0.8")
    assert(got((1L, 2L))._1 == 1.0)
    assert(got((1L, 2L))._2 < 0.1)
    // the same pair is invisible to q34's symmetric Jaccard (8/108 < 0.3)
    val jacc = DedupOps.queries("q34_ngram_jaccard")(sp, tmp.toString)
    assert(jacc.collect().isEmpty, "Jaccard must not flag the quote-inclusion pair")
    jacc.unpersist(blocking = true)
    sp.catalog.clearCache()
  }

  // ---- q95 containment verified over shared-window candidates ----

  test("q95: a >=20-token quote is found via window candidates; sub-window quotes are the q93-only trade") {
    val sp = spark
    import sp.implicits._
    val quoted = (0 until 25).map(i => s"q$i").mkString(" ")      // 25 tokens → windows exist
    val long = quoted + " " + (0 until 100).map(i => s"body$i").mkString(" ")
    val shortQuote = (0 until 10).map(i => s"s$i").mkString(" ")  // 10 tokens → NO 20-window
    val hostShort = shortQuote + " " + (0 until 100).map(i => s"host$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cv")
    Seq(
      (1L, quoted, "en", "s", 1L), (2L, long, "en", "s", 1L),
      (3L, shortQuote, "en", "s", 1L), (4L, hostShort, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(tmp.resolve("documents.parquet").toString)

    val v = DedupOps.queries("q95_containment_verified")(sp, tmp.toString)
    val got = v.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    v.unpersist(blocking = true)
    // the 25-token quote shares windows with its host → verified, cont 1.0
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L))._1 == 1.0 && got((1L, 2L))._2 < 0.25)
    // the 10-token quote has no 20-token window → invisible to q95's
    // candidates, but q93's guarded all-pairs still finds it
    val all = DedupOps.queries("q93_containment")(sp, tmp.toString)
    val allPairs = all.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    all.unpersist(blocking = true)
    assert(allPairs.contains((3L, 4L)), "q93 must catch the sub-window quote")
    assert(allPairs.contains((1L, 2L)))
    sp.catalog.clearCache()
  }

  test("q95 releases every internal cache (wins/cand/sharr — the Cached scope contract)") {
    val sp = spark
    import sp.implicits._
    val text = (0 until 30).map(i => s"c$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cv_cache")
    Seq((1L, text, "en", "s", 1L), (2L, text + " tail", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(tmp.resolve("documents.parquet").toString)
    val before = sp.sparkContext.getPersistentRDDs.keySet
    val out = DedupOps.queries("q95_containment_verified")(sp, tmp.toString)
    out.count()
    out.unpersist(blocking = true)
    // q95 persists THREE internal frames (the corpus window table, the
    // candidate pairs, the candidate shingle arrays) — all must be gone
    // once the caller releases the output, or a reordering of the
    // persist/release calls silently leaks a corpus-token-sized cache
    assert((sp.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("q90 releases its gram cache (Cached scope contract)") {
    val docs = docsDf(Seq(
      (1L, (0 until 10).map(i => s"w$i").mkString(" "), "a"),
      (2L, (0 until 10).map(i => s"w$i").mkString(" "), "b")))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = DedupOps.sourceOverlap(docs)
    out.count()
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty) // the output frame itself is cached for the caller
    out.unpersist()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
