package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Cached
import graft.util.Tables._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token statistics, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure column expressions (whole-stage codegen, no
  * UDFs) — at 100 TB these run as a single narrow map stage over the scan,
  * no shuffle except the final aggregations.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val stopList  = stopwords.map(w => s"'$w'").mkString(", ")

  /** DuckDB oracle fragments shared by the q38 / q77 / q94 oracles (r10
    * ADVICE): [[qualityScoreCol]] and [[gopherGateCols]] each get exactly
    * ONE SQL rendering, spliced into every oracle that needs it — the
    * [[bpeTokenRe]] splice discipline — so a formula change cannot
    * silently desynchronize the q94 datasheet report from the operators
    * it summarizes. [[oracleDocStatsSql]] renders the per-document integer
    * stats (n_tokens / word_chars / n_alpha / n_stop) over `documents`,
    * keyed by `keyCols`; the score/gate fragments are expressions over
    * those four columns.
    */
  private[graft] def oracleDocStatsSql(keyCols: String): String =
    s"""SELECT $keyCols,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(length(text) - len(toks) + 1 AS BIGINT) AS word_chars,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
                 AS n_alpha,
               CAST(len(list_filter(toks, x -> x IN ($stopList))) AS BIGINT) AS n_stop
             FROM (SELECT $keyCols, text, string_split(text, ' ') AS toks
                   FROM documents) raw_toks"""
  private[graft] val oracleQualityScoreSql: String =
    """least(1.0, n_tokens / 200.0)
         * (CASE WHEN word_chars / CAST(n_tokens AS DOUBLE) BETWEEN 2.5 AND 8.0
                 THEN 1.0 ELSE 0.5 END)"""
  private[graft] val oracleGateLenSql   = "n_tokens BETWEEN 50 AND 100000"
  private[graft] val oracleGateWlenSql  =
    "word_chars >= n_tokens * 3 AND word_chars <= n_tokens * 10"
  private[graft] val oracleGateAlphaSql = "n_alpha * 10 >= n_tokens * 8"
  private[graft] val oracleGateStopSql  = "n_stop >= 2"

  /** q33's canonical-form fingerprint (lowercase, strip non-alphanumerics,
    * md5) as a reusable column — the streaming intake (DocStreams) applies
    * the SAME expression so batch and streaming dedup keys are
    * bit-identical by construction, not by parallel maintenance.
    */
  def fingerprintCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(regexp_replace(lower(text), "[^a-z0-9 ]", ""))

  /** q68 scrub patterns: Java-regex and RE2 compatible (both engines),
    * anchored to the simple token shapes that survive whitespace
    * tokenization. Emails first so the URL pattern cannot eat an
    * address's domain half.
    */
  private[operators] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val urlRe = "https?://[^ ]+"

  /** q68's operator body, reusable over any (doc_id, text) frame: redact
    * emails then URLs, count each redaction kind. Counts are the MARKERS
    * surviving in `clean_text`, so they reconcile against the output by
    * construction — an email-shaped substring inside a URL
    * (`…?u=bob@x.com`) is first rewritten to `<EMAIL>` and then swallowed
    * whole by the URL pass, and counting the input would report an email
    * marker the output doesn't have. The flip side of counting the OUTPUT:
    * a document whose original text already contains a literal `<EMAIL>`
    * or `<URL>` token is counted as if it were a redaction — the counts
    * are "markers present after scrubbing", an upper bound on redactions
    * performed, not an exact tally (consumers needing exact tallies should
    * normalize pre-existing markers away first). Pure row-local column
    * expressions — zero shuffle at any corpus size. The sf fixtures
    * contain neither
    * pattern (the oracle pins the identity pass); TextOpsScrubSpec drives
    * planted addresses/URLs, including the email-inside-URL case, through
    * the same body.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val clean = regexp_replace(
      regexp_replace(col("text"), emailRe, "<EMAIL>"), urlRe, "<URL>")
    docs.select(
      col("doc_id"),
      clean.as("clean_text"),
      regexp_count(clean, lit("<EMAIL>")).cast("long").as("n_emails"),
      regexp_count(clean, lit("<URL>")).cast("long").as("n_urls"))
  }

  /** q38's quality score as a reusable column (same sharing rationale). */
  def qualityScoreCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nTokens = size(split(text, " "))
    val avgWlen = (length(text) - nTokens + 1) / nTokens
    least(lit(1.0), nTokens / 200.0) *
      when(avgWlen.between(2.5, 8.0), 1.0).otherwise(0.5)
  }

  /** q69/q78 shared body: corpus-unigram surprisal per key group.
    * `keys` is the per-document key set ("doc_id", optionally plus
    * functionally dependent attributes like "source" that downstream
    * consumers need carried through). Scale shape is q48's device — the
    * corpus explodes ONCE into the tf table (combiner-friendly groupBy),
    * corpus frequency and total both derive from tf (vocab-sized scans,
    * not corpus re-scans), and the per-doc mean is the tf-weighted sum
    * over the (keys, w) rows. Per-token surprisal is rounded to 6 decimals
    * and then INTEGERIZED to micro-bits (BIGINT), so the tf-weighted sum is
    * exact integer arithmetic — cross-engine float-summation order cannot
    * flip the final rounding (rounding the per-token values alone was not
    * enough: q78's regrouping changed Spark's summation order vs q69's and
    * one doc's mean landed a last-ulp across the 4-decimal boundary). The
    * final 4-decimal rounding is ALSO integer arithmetic — `round(a/b)`
    * half-up as `(2a+b) div (2b)` — because exact integer sums land on
    * exact decimal halves, which is precisely where engine `round(double)`
    * implementations disagree (Spark rounds the shortest decimal repr via
    * BigDecimal, DuckDB rounds the true binary value: 48896500/10 tokens
    * → 4.88965 → Spark 4.8897, DuckDB 4.8896). The output double is
    * int/10⁴ — identical bits in both engines. Per-DOC micro-bit sums fit
    * a long with ample headroom (su ≤ ~64·10⁶ micro-bits/token).
    */
  private def surprisalBase(docs: DataFrame, keys: Seq[String]): DataFrame = {
    val tf = docs
      .select(keys.map(col) :+ explode(split(col("text"), " ")).as("w"): _*)
      .groupBy((keys :+ "w").map(col): _*).agg(count(lit(1)).as("tf"))
    val freq = tf.groupBy("w").agg(sum("tf").as("freq"))
    val total = freq.agg(sum("freq").as("total"))
    val logp = freq.crossJoin(broadcast(total))
      .select(col("w"),
        round(round(-log(2.0, col("freq") / col("total")), 6) * 1e6, 0)
          .cast("long").as("su"))
    tf.join(logp, "w")
      .groupBy(keys.map(col): _*)
      .agg(
        // round(sum_su / (sum_tf·100), 4 decimals) in pure integer math:
        // half-up round(a/b) = (2a+b) div (2b); then /10⁴ for the double.
        // The division uses the Column API — inside SQL text `10000.0` is
        // a DECIMAL literal and would silently turn the column DECIMAL.
        (expr("(2 * sum(tf * su) + sum(tf) * 100) div (sum(tf) * 200)") / lit(10000.0))
          .as("avg_surprisal"),
        sum("tf").as("n_tokens"))
  }

  /** The four Gopher gates as boolean Columns over a text column — the
    * SHARED expression set between batch q77 ([[gopherRules]]) and the
    * streaming admission filter ([[graft.streaming.DocStreams.gopherAdmit]]),
    * the same one-expression design as [[fingerprintCol]]/[[qualityScoreCol]]
    * so batch and streaming gate decisions are bit-identical by
    * construction. Every gate is an integer inequality (see the q77 entry
    * comment), so the bits are engine-exact.
    */
  private[graft] def gopherGateCols(
      text: org.apache.spark.sql.Column): (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) = {
    val toks = split(text, " ")
    val n = size(toks).cast("long")
    // single-space tokenization: total word chars = len - (n_tokens-1)
    val wordChars = (length(text) - n + 1).cast("long")
    val nAlpha = size(filter(toks, x => x.rlike("[a-zA-Z]"))).cast("long")
    val nStop = size(filter(toks, x => x.isInCollection(stopwords))).cast("long")
    (n.between(50, 100000),
      wordChars >= n * 3 && wordChars <= n * 10,
      nAlpha * 10 >= n * 8,
      nStop >= 2)
  }

  /** The Gopher keep decision (conjunction of [[gopherGateCols]]) as one
    * Column — the streaming admission predicate.
    */
  def gopherKeepCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (gLen, gWlen, gAlpha, gStop) = gopherGateCols(text)
    gLen && gWlen && gAlpha && gStop
  }

  /** q77's operator body, reusable over any (doc_id, text) frame: the four
    * Gopher gates as 0/1 columns plus the conjunction. Row-local — zero
    * shuffle at any corpus size.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val (gLen, gWlen, gAlpha, gStop) = gopherGateCols(col("text"))
    docs
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        when(gLen, 1L).otherwise(0L).as("g_len"),
        when(gWlen, 1L).otherwise(0L).as("g_wlen"),
        when(gAlpha, 1L).otherwise(0L).as("g_alpha"),
        when(gStop, 1L).otherwise(0L).as("g_stop"))
      .withColumn("keep",
        (col("g_len") === 1 && col("g_wlen") === 1 &&
          col("g_alpha") === 1 && col("g_stop") === 1).cast("long"))
  }

  /** q78's 100 TB formulation: the same tertile split with the cutoffs from
    * `percentile_approx` per source instead of a per-source rank window —
    * no per-source sort partition, so one giant source cannot serialize the
    * split (the q46 exact-oracle / approx-at-scale device; the unsharded
    * vs sharded q57 pair is the same discipline). Scale shape: surprisal
    * (one row per doc) is persisted once, the cutoff agg is map-side
    * combinable (QuantileSummaries partials), the two cutoffs per source
    * broadcast back, and the bucket compare is row-local. The returned
    * frame is persisted and caller-owned; the surprisal cache is released
    * before return ([[graft.util.Cached]]).
    */
  def surprisalSplitApprox(docs: DataFrame, accuracy: Int = 10000): DataFrame = Cached { c =>
    val surp = c.hold(surprisalBase(docs, Seq("doc_id", "source")))
    // ONE sketch per source group (array of percentages), not one per
    // cutoff — two scalar calls would each maintain and merge their own
    // QuantileSummaries over every row
    val cuts = surp.groupBy("source").agg(
      percentile_approx(col("avg_surprisal"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("cs"))
      .select(col("source"), col("cs")(0).as("c1"), col("cs")(1).as("c2"))
    surp.join(broadcast(cuts), "source")
      .select(
        col("doc_id"), col("source"), col("avg_surprisal"),
        when(col("avg_surprisal") <= col("c1"), "head")
          .when(col("avg_surprisal") > col("c2"), "tail")
          .otherwise("middle").as("bucket"))
  }

  /** q78's operator body: per-source surprisal tertiles (see the q78 entry
    * comment for the CCNet framing and the 100 TB approx-cutoff path).
    */
  def surprisalSplit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val surp = surprisalBase(docs, Seq("doc_id", "source"))
    val w = Window.partitionBy("source").orderBy(col("avg_surprisal"), col("doc_id"))
    surp
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")).cast("long"))
      .select(
        col("doc_id"), col("source"), col("avg_surprisal"),
        when(col("r") * 3 <= col("n"), "head")
          .when(col("r") * 3 > col("n") * 2, "tail")
          .otherwise("middle").as("bucket"))
  }

  /** q88's operator body: conditional BIGRAM-LM surprisal per document —
    * the one-step-up-from-unigram LM filter (the KenLM-style fluency score
    * most CCNet-descendant pipelines actually use, with the corpus's own
    * bigram model standing in for the external LM): score_d =
    * -mean over bigram positions of log2 p(w_i | w_{i-1}), with add-one
    * smoothing p(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V) so unseen
    * continuations have defined probability. V is the corpus token
    * vocabulary, derived from the bigram table (distinct over both
    * positions) — vocab-sized work, not a second corpus scan. Documents
    * with fewer than 2 tokens have no bigram positions and no output row
    * (the oracle shares the drop).
    *
    * Engine-exactness is the q69/q78 micro-bit device end-to-end:
    * per-bigram surprisal integerizes to micro-bit BIGINTs, the per-doc
    * tf-weighted mean is exact integer arithmetic, and the final 4-decimal
    * rounding is the integer half-up `(2a+b) div (2b)` — the output double
    * is int/10⁴, identical bits in both engines.
    *
    * Scale shape: the corpus explodes ONCE into the per-doc bigram tf
    * table (combiner-friendly groupBy); corpus bigram counts, context
    * counts and the vocab scalar all chain off that one exchange
    * (runtime-reused, the q59/q69/q82 pin) and are bigram-vocab-sized;
    * the smoothed log-prob table joins back to tf with the strategy left
    * to the planner (bigram vocab is unbounded — the q69 rationale), and
    * the per-doc mean is one combiner-friendly aggregation.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val tf = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("p", explode(expr(
        """CASE WHEN size(toks) >= 2
             THEN transform(sequence(0, size(toks) - 2),
                            i -> struct(toks[i] AS w1, toks[i + 1] AS w2))
             ELSE array() END""")))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    val bc = tf.groupBy("w1", "w2").agg(sum("tf").as("bcnt"))
    val cc = bc.groupBy("w1").agg(sum("bcnt").as("ccnt"))
    val vocab = bc.select(col("w1").as("w"))
      .union(bc.select(col("w2").as("w")))
      .distinct().agg(count(lit(1)).as("v"))
    val su = bc.join(cc, "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(round(-log(2.0, (col("bcnt") + 1.0) / (col("ccnt") + col("v"))), 6)
          * 1e6, 0).cast("long").as("su"))
    tf.join(su, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(
        (expr("(2 * sum(tf * su) + sum(tf) * 100) div (sum(tf) * 200)") / lit(10000.0))
          .as("avg_bigram_surprisal"),
        sum("tf").as("n_bigrams"))
  }

  /** q108's operator body: HELD-OUT trigram Stupid Backoff surprisal —
    * the distributed-scale LM scoring scheme of Brants et al. 2007 ("Large
    * Language Models in Machine Translation", §4: score = relative
    * frequency if the n-gram was seen, else α × the (n−1)-gram score,
    * α = 0.4, no normalization — chosen there precisely BECAUSE it needs
    * only count lookups, no discounting passes, so it scales to
    * MapReduce-sized corpora; the same property makes it one shuffle
    * chain here). Unlike q69/q88 (model = the full corpus, so every
    * gram is seen and backoff is dead code), the model trains on the
    * `doc_id % 2 = 0` HALF and scores every document — the CCNet shape
    * ("LM trained elsewhere") with an in-corpus deterministic split, so
    * the backoff chain genuinely fires on held-out docs:
    *
    *   S(w3|w1w2) = t3/c12              if the trigram is in the model
    *              = 0.4 · (c23/cu2)     else if bigram (w2,w3) is
    *              = 0.4 · 0.4 · (cu3+1)/(N+V)   else (add-one unigram
    *                floor, so a word the model never saw still scores)
    *
    * All counts are SLOT-PROJECTED from the one model trigram table
    * (c12 = trigram positions starting w1w2, cu2 = slot-2 occurrences,
    * N = total trigram positions, V = distinct words over all slots) —
    * self-consistent denominators with zero extra corpus scans.
    * Engine-exactness is the q88 device end-to-end: per-trigram
    * surprisal integerizes to micro-bit BIGINTs (round(·,6)·1e6 kills
    * last-ulp libm divergence), per-doc tf-weighted mean is exact
    * integer arithmetic with the half-up `(2a+b) div (2b)` finish.
    * Docs with <3 tokens have no trigram positions and no output row;
    * the branch counters (tri hit / bigram backoff / unigram floor) are
    * tf-weighted exact integers — the observability a filter threshold
    * gets tuned against.
    *
    * Scale shape: the corpus explodes ONCE into the per-doc trigram tf
    * table (combiner-friendly groupBy); the model tables (t3/c12/c23/
    * cu2/cu3 and the two scalars) all chain off the training filter of
    * that same exchange — n-gram-vocab-sized, runtime-reused (the q88
    * pin). The five lookup joins are planner-chosen (trigram vocab is
    * unbounded — never force broadcast); the per-doc mean is one
    * combiner-friendly aggregation. Corpus-linear, no self-join, holds
    * at 100 TB.
    */
  def trigramBackoffSurprisal(docs: DataFrame): DataFrame = {
    val tf = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("p", explode(expr(
        """CASE WHEN size(toks) >= 3
             THEN transform(sequence(0, size(toks) - 3),
                            i -> struct(toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3))
             ELSE array() END""")))
      .select(col("doc_id"), col("p.w1"), col("p.w2"), col("p.w3"))
      .groupBy("doc_id", "w1", "w2", "w3").agg(count(lit(1)).as("tf"))
    val t3 = tf.filter(col("doc_id") % 2 === 0)
      .groupBy("w1", "w2", "w3").agg(sum("tf").as("t3"))
    val c12 = t3.groupBy("w1", "w2").agg(sum("t3").as("c12"))
    val c23 = t3.groupBy("w2", "w3").agg(sum("t3").as("c23"))
    val cu2 = t3.groupBy("w2").agg(sum("t3").as("cu2"))
    val cu3 = t3.groupBy("w3").agg(sum("t3").as("cu3"))
    val scal = t3.agg(sum("t3").as("n")).crossJoin(
      t3.select(col("w1").as("w")).union(t3.select(col("w2").as("w")))
        .union(t3.select(col("w3").as("w"))).distinct()
        .agg(count(lit(1)).as("v")))
    tf
      .join(t3, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c23, Seq("w2", "w3"), "left")
      .join(cu2, Seq("w2"), "left")
      .join(cu3, Seq("w3"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("branch",
        when(col("t3").isNotNull, 1)
          .when(col("c23").isNotNull, 2)
          .otherwise(3))
      .withColumn("prob",
        when(col("branch") === 1, col("t3").cast("double") / col("c12"))
          .when(col("branch") === 2, lit(0.4) * (col("c23").cast("double") / col("cu2")))
          .otherwise(lit(0.4) * (lit(0.4) *
            ((coalesce(col("cu3"), lit(0L)) + lit(1.0)) / (col("n") + col("v"))))))
      .withColumn("su",
        round(round(-log(2.0, col("prob")), 6) * 1e6, 0).cast("long"))
      .groupBy("doc_id")
      .agg(
        (expr("(2 * sum(tf * su) + sum(tf) * 100) div (sum(tf) * 200)") / lit(10000.0))
          .as("avg_trigram_surprisal"),
        sum("tf").as("n_trigrams"),
        sum(when(col("branch") === 1, col("tf")).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("branch") === 2, col("tf")).otherwise(0L)).as("n_bigram_backoffs"),
        sum(when(col("branch") === 3, col("tf")).otherwise(0L)).as("n_unigram_backoffs"))
  }

  /** q113's operator body: the END-TO-END batch curation WATERFALL — the
    * composed pipeline every individual operator in this library exists to
    * serve, runnable as ONE query with per-stage drop accounting (the
    * number a pipeline owner actually reports: "of N raw docs, X fell at
    * gates, Y at dedup, Z at decontam, W at quality; K remain"). Stage
    * order is the industry-standard cost ladder — cheap row-local rules
    * first, corpus-shuffle dedup second, eval-set decontamination third,
    * model-quality threshold last — and the waterfall is SEQUENTIAL by
    * definition: each stage only sees the previous stage's survivors, so
    * e.g. the dedup keeper is elected among gate-passers only (a
    * gate-failing copy never "uses up" a fingerprint), and contamination
    * is only charged to docs that would otherwise survive. Each stage is
    * the library's own shared expression (q77's [[gopherKeepCol]], q33's
    * [[fingerprintCol]], q67's gram-5 eval overlap via
    * [[DedupOps.gram5ArrayExpr]], q38's [[qualityScoreCol]] at the 0.25
    * bar) — one definition each, so the waterfall can never drift from
    * the operators it composes. Eval set = doc_id < 10 (the q67/q74/q79
    * convention); output is one row per corpus doc (doc_id ≥ 10) with its
    * first failing stage or 'kept'.
    *
    * Scale shape: gates/fingerprint/quality are row-local over one corpus
    * scan (persisted once — three consumers); dedup is one linear
    * fingerprint shuffle (q30's shape); decontam explodes only SURVIVOR
    * grams against the BROADCAST eval set (q67's shape, further
    * delta-bounded by the waterfall); the final assembly is two keyed
    * joins. No stage pairs the corpus against itself. Holds at 100 TB —
    * this is precisely the composition the per-operator smoke entries
    * certify piecewise.
    */
  def pipelineWaterfall(docs: DataFrame): DataFrame = Cached { c =>
    val base = docs.select(col("doc_id"), col("text"))
    val evalGrams = base.filter(col("doc_id") < 10)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(explode(array_distinct(expr(DedupOps.gram5ArrayExpr("t")))).as("g"))
      .distinct()
    // Not filled (nor widened): the racing recomputes run on idle cores,
    // which costs less wall than a fill's job barrier (OPTIMIZATION_r17.md).
    val corpus = c.hold(base.filter(col("doc_id") >= 10)
      .select(col("doc_id"), col("text"),
        gopherKeepCol(col("text")).as("gate"),
        fingerprintCol(col("text")).as("fp"),
        qualityScoreCol(col("text")).as("q")))
    val keeper = keeperElection(corpus.filter(col("gate")))
    val contam = corpus.filter(col("gate"))
      .join(keeper, "fp")
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(expr(DedupOps.gram5ArrayExpr("t")))).as("g"))
      .join(broadcast(evalGrams), "g")
      .select("doc_id").distinct()
      .withColumn("contam", lit(1L))
    corpus
      .join(keeper, Seq("fp"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("gate"), "gates")
          .when(col("doc_id") =!= col("keep_id"), "dedup")
          .when(col("contam").isNotNull, "decontam")
          .when(col("q") < 0.25, "quality")
          .otherwise("kept").as("stage"))
      .withColumn("kept", (col("stage") === "kept").cast("long"))
  }

  /** q113's fingerprint-keeper election over gate-passing corpus rows —
    * ONE definition shared by [[pipelineWaterfall]] and [[textKeeperMap]],
    * so the consistency check (q134) can never drift from the waterfall
    * it audits.
    */
  private def keeperElection(gatePassers: DataFrame): DataFrame =
    gatePassers.groupBy("fp").agg(min("doc_id").as("keep_id"))

  /** q113's TEXT keeper map as a standalone seam (r14, q134's text half):
    * one row per gate-passing corpus doc with the fingerprint keeper its
    * text identity resolves to — exactly [[pipelineWaterfall]]'s election
    * (same shared gate/fingerprint expressions, same corpus split, same
    * [[keeperElection]]), exposed so cross-operator consistency checks can
    * join "where did this doc's TEXT go" against the media keeper maps.
    * Gate-failing docs have no text identity and emit no row.
    *
    * Scale shape: one row-local projection + q30's linear fingerprint
    * shuffle + one keyed join-back — strictly a subset of q113's plan.
    * `passers` is persisted for its two consumers (the election and the
    * join-back would otherwise each re-run the gate + md5 over every
    * document) and released after the returned, caller-owned frame fills.
    */
  def textKeeperMap(docs: DataFrame): DataFrame = Cached { c =>
    val passers = c.hold(docs.filter(col("doc_id") >= 10)
      .filter(gopherKeepCol(col("text")))
      .select(col("doc_id"), fingerprintCol(col("text")).as("fp")))
    passers.join(keeperElection(passers), "fp")
      .select(col("doc_id"), col("keep_id"))
  }

  /** The keeper map as DuckDB SQL, factored from the q113 oracle's own
    * CTE fragments so q134 can nest it — the q125Sql/q128 discipline.
    */
  private[operators] def textKeeperMapSql: String =
    s"""WITH stats AS (${oracleDocStatsSql("doc_id")}),
       fpt AS (SELECT doc_id,
                 md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
               FROM documents),
       corpus AS (
         SELECT s.doc_id, f.fp
         FROM stats s JOIN fpt f USING (doc_id)
         WHERE s.doc_id >= 10 AND $oracleGateLenSql AND $oracleGateWlenSql
           AND $oracleGateAlphaSql AND $oracleGateStopSql),
       keeper AS (SELECT fp, min(doc_id) AS keep_id FROM corpus GROUP BY fp)
       SELECT c.doc_id, k.keep_id FROM corpus c JOIN keeper k USING (fp)"""

  /** q144's constants — ONE definition feeding the operator and the
    * interpolated oracle (the bpeTokenRe anti-drift discipline).
    */
  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** q144: BM25 RANKED RETRIEVAL — Okapi BM25 [Robertson et al., TREC-3;
    * the idf in its always-positive ln(1 + (N − df + ½)/(df + ½)) form]
    * of every eval query (doc_id < 10, the suite's held-out convention)
    * against the corpus (doc_id ≥ 10), top-`k` docs per query. The
    * retrieval leg a training-data pipeline runs beside decontamination:
    * q67/q115 ask "does an eval n-gram appear verbatim"; BM25 asks the
    * graded version — "which corpus documents are lexically closest to
    * this eval item" — the triage list a contamination review and a
    * RAG-eval harness both start from.
    *
    * Cross-engine determinism: each (query, doc, term) contribution —
    * idf × tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) — is rounded to 6
    * decimals, the per-doc sum rounds to 6 — the SAME scale as the
    * addends, never fewer (exact sums of 1e-6-grid values sit ON the
    * grid, so the half-boundary a coarser rounding exposes is never
    * occupied; a round-to-4 flipped one fixture score whose sum landed
    * within a double ulp of the .00005 line) — ties break on doc_id.
    *
    * Scale shape: the corpus explodes ONCE into q48's tf table; dl/df
    * are grouped passes over it; N and avgdl are one broadcast scalar
    * row; the QUERY term set is eval-sized and broadcasts into the tf
    * join, so scoring work is |matching (query, doc, term) triples| —
    * never corpus × corpus; the final top-k is a WindowGroupLimit
    * (map-side heaps, no global sort).
    */
  def bm25TopK(docs: DataFrame, k: Int = 5): DataFrame = {
    val corpus = docs.filter(col("doc_id") >= 10)
    val tok = corpus.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val stats = corpus.agg(count(lit(1)).as("n"))
      .crossJoin(dl.agg(sum("dl").as("toks")))
      .select(col("n"), (col("toks").cast("double") / col("n")).as("avgdl"))
    val qterms = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
    val contrib = tf.join(broadcast(qterms), "w")
      .join(dfreq, "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        round(
          log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf") * (lit(bm25K1) + 1.0)) /
            (col("tf") + lit(bm25K1) *
              (lit(1.0) - lit(bm25B) + lit(bm25B) * col("dl") / col("avgdl"))),
          6).as("c"))
    val scored = contrib.groupBy("qid", "doc_id")
      .agg(round(sum("c"), 6).as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("doc_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("score"),
        col("rn").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** q116's operator body: SPAN-LEVEL quality pruning — the within-document
    * counterpart of the doc-level surprisal filters (q69/q78 score whole
    * docs; real web documents are usually good prose wrapped around a
    * navigation block or a keyword-stuffed footer, and dropping the whole
    * doc wastes the prose — the Nemotron-CC/RefinedWeb class of "prune the
    * span, keep the page"). A 5-token window is pruned when its mean
    * unigram surprisal exceeds 1.5× the DOCUMENT's own mean — the
    * relative bar makes the op corpus-agnostic (an absolute threshold
    * would fire everywhere or nowhere depending on vocabulary size);
    * overlapping pruned windows union and the survivors reassemble, the
    * q115 indexed-filter device. Every comparison is INTEGER: with
    * micro-bit su (q69's exact table), "mean₅ > 1.5·mean_doc" is
    * 2·sum₅·n_doc > 15·sum_doc — no float boundary can disagree across
    * engines (headroom: 5 windows × 2e7 µbits × 1e5-token docs ≈ 1e13,
    * far inside long). Docs under 5 tokens have no full window and pass
    * verbatim; n_tokens/n_kept make the pruned mass auditable.
    *
    * Scale shape: one corpus token explode (row-local) + the vocab-sized
    * unigram model (q69's shape, broadcast total) + ONE per-doc window
    * partition carrying both the 5-row rolling frame and the doc
    * aggregate (doc-bounded — the per-key sort is capped by any length
    * gate, the q103 discipline), then the q115 reassembly: one start-set
    * shuffle and a row-local indexed filter. No pair joins, corpus-linear
    * throughout. Holds at 100 TB.
    */
  def spanQualityPrune(docs: DataFrame): DataFrame = Cached { c =>
    import org.apache.spark.sql.expressions.Window
    val toks = c.hold(docs.select(col("doc_id"), split(col("text"), " ").as("t")))
    val pos = toks.select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("w"))
    val freq = pos.groupBy("w").agg(count(lit(1)).as("freq"))
    val total = freq.agg(sum("freq").as("total"))
    val su = freq.crossJoin(broadcast(total))
      .select(col("w"),
        round(round(-log(2.0, col("freq") / col("total")), 6) * 1e6, 0)
          .cast("long").as("su"))
    val wWin = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, 4)
    val dWin = Window.partitionBy("doc_id")
    val starts = pos.join(su, "w")
      .withColumn("sum5", sum(col("su")).over(wWin))
      .withColumn("cnt5", count(lit(1)).over(wWin))
      .withColumn("sdoc", sum(col("su")).over(dWin))
      .withColumn("ndoc", count(lit(1)).over(dWin))
      .filter(col("cnt5") === 5 &&
        col("sum5") * col("ndoc") * 2 > col("sdoc") * 15)
      .groupBy("doc_id").agg(collect_set(col("i")).as("starts"))
    toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        when(col("starts").isNull, col("t")).otherwise(expr(
          """transform(
               filter(sequence(1, size(t)),
                      i -> NOT exists(starts, s -> i >= s AND i <= s + 4)),
               i -> element_at(t, i))""")).as("kt"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kt")).cast("long").as("n_kept"),
        concat_ws(" ", col("kt")).as("clean_text"))
  }

  /** q89's operator body: character-distribution Shannon entropy per
    * document — see the q89 entry comment. Row-local HOFs only (the q60
    * device): per distinct char, count occurrences and weight its
    * integerized micro-bit -log2(p); the mean is the exact integer
    * half-up device so the output double is int/10⁴ in both engines.
    * The n=0 guard matters beyond the obvious division: Spark's
    * `split('', '')` yields `[""]` (one empty element), so the unguarded
    * HOF would "count" a phantom character on empty documents.
    * Charset caveat: "character" here is a UTF-16 code unit (Spark's
    * split/length) while DuckDB counts codepoints — identical on BMP
    * text (all fixtures; same latent property as q31's length), but a
    * non-BMP symbol (emoji, rare CJK) counts as TWO units here and one
    * there. Entropy over code units is still a well-defined gibberish
    * signal; consumers needing codepoint-exact entropy on astral text
    * should normalize first.
    */
  def charEntropy(docs: DataFrame): DataFrame =
    docs
      .withColumn("ch", split(col("text"), ""))
      // n as LONG: the mean device multiplies n by 200, which overflows
      // 32-bit int on ~10.7M-char documents — under ANSI mode one
      // oversized doc would throw and kill the stage (the oracle's
      // length() is already BIGINT, so only the Spark side was at risk)
      .withColumn("n", length(col("text")).cast("long"))
      .select(
        col("doc_id"),
        col("n").as("n_chars"),
        when(col("n") === 0, 0L)
          .otherwise(size(array_distinct(col("ch"))).cast("long"))
          .as("n_distinct_chars"),
        when(col("n") === 0, 0.0)
          .otherwise(expr(
            """(2 * aggregate(
                  transform(array_distinct(ch), t -> size(filter(ch, x -> x = t))),
                  0L,
                  (acc, c) -> acc + c * cast(round(round(-log2(c / cast(n as double)), 6)
                                                   * 1000000, 0) as bigint))
                + n * 100) div (n * 200)""") / lit(10000.0))
          .as("char_entropy"))

  /** q91's tokenizer pattern: a GPT-2-style pre-tokenizer regex ("BPE-ish"
    * — common contractions, space-prefixed letter runs, digit runs,
    * punctuation runs, whitespace), restricted to the Java-regex ∩ RE2
    * subset: the real GPT-2 pattern's `\s+(?!\S)` lookahead does not
    * exist in RE2, so the oracle engine could never match it — the
    * portable variant drops the lookahead split and counts trailing
    * whitespace with the final `\s+` branch instead. Shared between the
    * operator and its oracle by construction (one definition).
    */
  private[operators] val bpeTokenRe =
    """'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** q91's operator body: token counting under BOTH conventions — the
    * whitespace count every quality heuristic uses (q31/q77) and the
    * BPE-ish pre-tokenizer count that approximates what a trained BPE
    * vocabulary will actually bill for the document (budget/packing math
    * over q83/q57 is wrong by the tokens-per-word factor if it assumes
    * whitespace tokens). tokens_per_word is the exact integer half-up
    * device, so the ratio is int/10⁴ in both engines. Row-local regex
    * projections — zero shuffle at any corpus size.
    */
  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit(bpeTokenRe)).cast("long").as("n_bpe_tokens"))
      .withColumn("tokens_per_word",
        expr("(2 * n_bpe_tokens * 10000 + n_ws_tokens) div (2 * n_ws_tokens)")
          / lit(10000.0))

  /** The q96 merge-table fixture, in the public GPT-2 `merges.txt` format
    * (one space-separated pair per line, rank = line order, `#` header
    * skipped) so [[graft.functions.BpeKernel.parseMerges]] exercises the
    * real file layout. Hand-computable and WELL-FORMED (every composite —
    * `th e`, `ab le` — ranked after its parts), which is the property that
    * makes the single-leftmost-min merge loop equal to the
    * merge-all-occurrences variant; a list learned by actual BPE training
    * always has it. Spliced into the DuckDB oracle as a VALUES list from
    * this one constant (the [[bpeTokenRe]] discipline).
    */
  private[graft] val bpeMergesFixture: String =
    """#version: graft-fixture
      |t h
      |th e
      |a b
      |l e
      |ab le
      |r o
      |s c
      |a n
      |e r
      |q u
      |s t
      |f a
      |d a
      |t a""".stripMargin

  /** The BPE-apply CTE block of the DuckDB oracles — merges/words/init/
    * bpe/toks, ending in `toks(w, n_pieces)` over the corpus vocabulary —
    * authored ONCE and spliced into both the q96 and q120 oracles (the
    * bpeTokenRe one-constant discipline, per r10 ADVICE: a third
    * hand-written copy is how oracles silently desynchronize). Each
    * recursion level applies one merge; a word's terminal row is the one
    * no merge applies to. Callers open with `WITH RECURSIVE`.
    */
  private def bpeOracleToksCtes: String = {
    val mergeValues = graft.functions.BpeKernel.parseMerges(bpeMergesFixture)
      .toSeq.sortBy(_._2)
      .map { case ((a, b), r) =>
        s"('${a.replace("'", "''")}', '${b.replace("'", "''")}', ${r + 1})"
      }
      .mkString(", ")
    s"""merges(a, b, r) AS (VALUES $mergeValues),
         words AS (
           SELECT DISTINCT w FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents) uw
           WHERE w <> ''),
         init AS (
           SELECT w, ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' ' AS st
           FROM words),
         bpe(w, st) AS (
           SELECT w, st FROM init
           UNION ALL
           SELECT w,
             substr(st, 1, strpos(st, best.pat) - 1) || ' ' || best.ab || ' ' ||
               substr(st, strpos(st, best.pat) + length(best.pat))
           FROM (
             SELECT w, st,
               (SELECT {'ab': m.a || m.b, 'pat': ' ' || m.a || ' ' || m.b || ' '}
                FROM merges m
                WHERE contains(st, ' ' || m.a || ' ' || m.b || ' ')
                ORDER BY m.r LIMIT 1) AS best
             FROM bpe) x
           WHERE best IS NOT NULL),
         toks AS (
           SELECT w, CAST(len(string_split(trim(st), ' ')) AS BIGINT) AS n_pieces
           FROM bpe b
           WHERE NOT EXISTS (SELECT 1 FROM merges m
                             WHERE contains(b.st, ' ' || m.a || ' ' || m.b || ' ')))"""
  }

  /** The per-source BPE accounting CTE block of the q120/q121 oracles —
    * tf/agg/base over [[bpeOracleToksCtes]]'s `toks`, mirroring
    * [[perSourceBpe]] — one authored copy for the same drift reason.
    */
  private def bpeOracleSourceCtes: String =
    """tf AS (
         SELECT source, w, count(*) AS tf FROM (
           SELECT source, unnest(string_split(text, ' ')) AS w
           FROM documents) tw
         WHERE w <> '' GROUP BY source, w),
       agg AS (
         SELECT t.source,
                CAST(sum(t.tf) AS BIGINT) AS n_words,
                CAST(sum(t.tf * k.n_pieces) AS BIGINT) AS n_bpe_tokens
         FROM tf t JOIN toks k USING (w) GROUP BY t.source),
       base AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
         FROM documents GROUP BY source)"""

  /** q96's operator body: REAL byte-pair-encoding token counts (r10
    * verdict #4) — actual merges applied iteratively per word, not q91's
    * pre-tokenizer proxy. The output keeps q91's `n_pretokens` next to the
    * real `n_bpe_tokens` so the proxy's divergence is measured in place.
    *
    * Scale shape (the q48/q69 tf device): the corpus explodes ONCE into a
    * (doc_id, word, tf) table; the merge loop — the only non-trivial
    * compute — runs over DISTINCT words only (vocab-sized, via the
    * codegen'd `graft_bpe_count` expression), and the counts broadcast-join
    * back. A 100 TB corpus has a bounded vocabulary; running BPE per word
    * OCCURRENCE would be the scale mistake this shape avoids.
    */
  def bpeRealTokens(docs: DataFrame, mergesText: String): DataFrame = {
    graft.functions.BpeFunctions.register(docs.sparkSession)
    val mergesLit = mergesText.replace("'", "''")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val vocab = tf.select("w").distinct()
      .withColumn("n_pieces", expr(s"graft_bpe_count(w, '$mergesLit')"))
    val perDoc = tf.join(broadcast(vocab), "w")
      .groupBy("doc_id").agg(
        sum("tf").as("n_words"),
        sum(col("tf") * col("n_pieces")).as("n_bpe_tokens"))
    docs
      .select(col("doc_id"),
        regexp_count(col("text"), lit(bpeTokenRe)).cast("long").as("n_pretokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        col("n_pretokens"))
  }

  /** Weighted adjacent-pair counts of the corpus vocabulary's BPE pieces
    * under a merge table — ONE BPE-training iteration's sufficient
    * statistic. Vocab-sized compute (distinct words via the codegen'd
    * `graft_bpe_pieces`), corpus-sized only in the initial word count.
    */
  private def bpePairCounts(docs: DataFrame, mergesText: String): DataFrame = {
    graft.functions.BpeFunctions.register(docs.sparkSession)
    val mergesLit = mergesText.replace("'", "''")
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("tf"))
      .select(col("tf"), expr(s"graft_bpe_pieces(w, '$mergesLit')").as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(col("tf"), explode(expr(
        """transform(sequence(1, size(ps) - 1),
             i -> struct(element_at(ps, i) AS a, element_at(ps, i + 1) AS b))"""))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("tf").as("cnt"))
  }

  /** q104's trainer: LEARN a BPE merge table from the corpus (Sennrich et
    * al. 2016 — the "learn" half whose "apply" half is q96). Per
    * iteration: [[bpePairCounts]] under the merges so far, then the
    * arg-max pair with the deterministic (cnt DESC, a, b) tie-break
    * becomes the next merge. This is the q72/q97 broadcast-model loop:
    * the model (merge list) is tiny and driver-held, the per-iteration
    * statistic is one vocab-sized shuffle, nothing corpus-sized ever
    * collects — at 100 TB the word-count front runs once and each of the
    * bounded `nMerges` iterations is an aggregate over the vocabulary.
    *
    * Words containing newlines are excluded — a symbol with a line break
    * cannot round-trip the line-based merges.txt format.
    *
    * Returns the learned (rank, a, b, cnt) merges; render with
    * [[mergesAsText]] to feed q96's applier — the learn→apply loop the
    * spec closes end-to-end.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int): Seq[(String, String, Long)] = Cached.scope { c =>
    val clean = c.hold(docs.filter(!col("text").rlike("[\\n\\r]")), fill = true)
    var merges = Vector.empty[(String, String, Long)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val best = bpePairCounts(clean, mergesAsText(merges))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word fully merged
      else merges :+= ((best(0).getString(0), best(0).getString(1),
        best(0).getLong(2)))
    }
    merges
  }

  /** Learned merges rendered in the public merges.txt format q96 loads. */
  def mergesAsText(merges: Seq[(String, String, Long)]): String =
    ("#version: graft-learned" +: merges.map(m => s"${m._1} ${m._2}"))
      .mkString("\n")

  /** q120's operator body: tokenizer-fit report per source — fertility
    * (real BPE tokens per word) and bytes-per-token (UTF-8 bytes per BPE
    * token), the two standard datasheet signals for how well a tokenizer
    * matches a corpus slice: high fertility / low bytes-per-token marks
    * text the tokenizer fragments (foreign scripts, boilerplate noise,
    * wrong domain), and bytes-per-token IS the compression ratio that
    * decides how much text a fixed token budget actually buys per source
    * (q83's currency, priced per slice). Ratios use the suite's exact
    * integer half-up device at micro precision so the DuckDB compare is
    * bit-stable.
    *
    * Scale shape: q96's vocab discipline — the corpus explodes once into
    * (source, word, tf); the merge loop runs over DISTINCT words only
    * (vocab-sized, codegen'd `graft_bpe_count`) and broadcast-joins back;
    * byte counts ride a second linear agg over the same scan. The output
    * is |sources| rows.
    */
  def tokenizerFitReport(docs: DataFrame, mergesText: String): DataFrame =
    perSourceBpe(docs, mergesText)
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_bytes"),
        (expr("(2 * n_bpe_tokens * 1000000 + n_words) div (2 * n_words)")
          / lit(1000000.0)).as("fertility"),
        (expr("(2 * n_bytes * 1000000 + n_bpe_tokens) div (2 * n_bpe_tokens)")
          / lit(1000000.0)).as("bytes_per_token"))

  /** Per-source real-BPE accounting shared by q120 and q121: one corpus
    * explode into (source, word, tf), the merge loop over DISTINCT words
    * only (q96's vocab discipline), byte/doc counts on a second linear
    * agg — output is |sources| rows of (source, n_docs, n_words,
    * n_bpe_tokens, n_bytes).
    */
  private def perSourceBpe(docs: DataFrame, mergesText: String): DataFrame = {
    graft.functions.BpeFunctions.register(docs.sparkSession)
    val mergesLit = mergesText.replace("'", "''")
    val tf = docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source", "w").agg(count(lit(1)).as("tf"))
    val vocab = tf.select("w").distinct()
      .withColumn("n_pieces", expr(s"graft_bpe_count(w, '$mergesLit')"))
    val perSource = tf.join(broadcast(vocab), "w")
      .groupBy("source").agg(
        sum("tf").as("n_words"),
        sum(col("tf") * col("n_pieces")).as("n_bpe_tokens"))
    val bytes = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(octet_length(col("text"))).cast("long").as("n_bytes"))
    bytes.join(perSource, Seq("source"))
  }

  /** q121's operator body: the ingest PROVISIONING plan — q100's
    * temperature mix (p_s ∝ √n_s) re-priced in the REAL training currency
    * (q96's BPE tokens, not whitespace words) and converted to the RAW
    * BYTES to pull per source: `planned_bytes = planned_tokens ×
    * n_bytes/n_bpe_tokens`, each source billed at its own measured
    * bytes-per-token (q120's compression ratio — a CJK or code slice buys
    * far fewer tokens per byte than English prose, which is exactly why a
    * byte-uniform ingest quota misses a token-denominated mix). The
    * `oversample` column is planned/available tokens — the per-source
    * epoch multiplicity this mix implies (>1 means the source repeats,
    * the repeated-data budget question), q85's corpus-wide epochs knob
    * made per-source and mix-aware.
    *
    * Exactness devices are q100's: integer isqrt weight (floor kills the
    * sqrt ulp), integer floor-div token split, ONE floor-div for bytes
    * (never through the rounded ratio), half-up micro for the oversample.
    * Scale shape: [[perSourceBpe]]'s two linear aggs + a broadcast total
    * over the tiny source dimension.
    */
  def ingestPlan(docs: DataFrame, mergesText: String,
      budgetTokens: Long = 1000000L): DataFrame = {
    val per = perSourceBpe(docs, mergesText)
      .withColumn("weight",
        floor(sqrt(col("n_bpe_tokens").cast("double"))).cast("long"))
    val tot = per.agg(sum("weight").as("tot_w"))
    per.crossJoin(broadcast(tot))
      .withColumn("planned_tokens",
        expr(s"($budgetTokens * weight) div tot_w").cast("long"))
      .select(col("source"), col("n_bpe_tokens"), col("n_bytes"),
        col("weight"), col("planned_tokens"),
        expr("(planned_tokens * n_bytes) div n_bpe_tokens")
          .cast("long").as("planned_bytes"),
        (expr("(2 * planned_tokens * 1000000 + n_bpe_tokens) div (2 * n_bpe_tokens)")
          / lit(1000000.0)).as("oversample"))
  }

  /** The winnow gram-hash array over a token-array column — THE hash
    * definition, shared by batch q92 and the streaming near-dup gate
    * ([[graft.streaming.DocStreams.nearDupGate]]), the same one-definition
    * contract as [[fingerprintCol]]/[[gopherKeepCol]] and DedupOps'
    * gram5ArrayExpr: the gate's "reconcile with batch q92" story is only
    * sound while both sides hash identical grams identically.
    */
  private[graft] def winnowHashArrayExpr(tCol: String): String =
    s"""transform(
          CASE WHEN size($tCol) >= 3
               THEN transform(sequence(1, size($tCol) - 2),
                      i -> concat_ws(' ', element_at($tCol, i),
                        element_at($tCol, i + 1), element_at($tCol, i + 2)))
               ELSE CAST(array() AS ARRAY<STRING>) END,
          g -> cast(conv(substring(md5(g), 1, 12), 16, 10) as bigint))"""

  /** Window-min selection over a winnow hash-array column (w = 4) — the
    * second half of the shared q92 definition. */
  private[graft] def winnowSelectExpr(hsCol: String): String =
    s"""CASE WHEN size($hsCol) = 0 THEN CAST(array() AS ARRAY<BIGINT>)
             ELSE array_distinct(transform(
                    sequence(1, greatest(size($hsCol) - 3, 1)),
                    i -> array_min(slice($hsCol, i, 4)))) END"""

  /** q92's operator body: winnowing document fingerprints (Schleimer,
    * Wilkerson & Aiken, SIGMOD'03 — the MOSS local fingerprinting
    * algorithm): hash every word-3-gram (the q34 shingle unit), slide a
    * window of w=4 consecutive hashes, select each window's minimum, and
    * keep the DISTINCT selected values as the document's fingerprint set.
    * Winnowing guarantees any shared run of ≥ k+w-1 tokens contributes at
    * least one common fingerprint, at ~2/(w+1) the storage of the full
    * hash set — the sub-document dedup key family between q33's whole-doc
    * hash and q71's every-window explode. Tie-break note: the classic
    * algorithm picks the RIGHTMOST minimum per window, but the OUTPUT —
    * the distinct value set — is tie-break-invariant (equal minima are
    * equal values), so plain `array_min` is exact. Documents with fewer
    * than k+w-1 tokens winnow their single short window (the global
    * minimum); under-k-token documents have no grams and an empty
    * fingerprint (md5 of the empty join). Entirely row-local HOFs —
    * zero shuffle; consumers join on exploded fingerprint values exactly
    * as q71 joins window hashes.
    */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("hs", expr(winnowHashArrayExpr("t")))
      .withColumn("fps", expr(winnowSelectExpr("hs")))
      .select(
        col("doc_id"),
        size(col("hs")).cast("long").as("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        md5(expr(
          "array_join(transform(array_sort(fps), x -> cast(x as string)), ',')"))
          .as("fp_digest"))

  /** Exploded (doc_id, fp) winnow fingerprint VALUES — the corpus-side
    * surface consumers join or build sketches on. `fp` is the STRING
    * rendering of the 48-bit hash, NOT the bigint: Spark's
    * `df.stat.bloomFilter` inserts integral columns via `putLong` while
    * the [[graft.functions.BloomMightContain]] probe hashes UTF-8 string
    * bytes — disjoint hash inputs, so a filter built over the bigint
    * column would NEVER match a probe and the near-dup gate would
    * silently admit every duplicate. Emitting the string here makes
    * `winnowFpValues(corpus).stat.bloomFilter("fp", n, fpp)` the correct
    * build recipe by construction (and string joins between two
    * winnowFpValues frames remain exact — the rendering is injective).
    */
  def winnowFpValues(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("hs", expr(winnowHashArrayExpr("t")))
      .select(col("doc_id"),
        explode(expr(
          s"transform(${winnowSelectExpr("hs")}, x -> cast(x as string))"))
          .as("fp"))

  /** q82's operator body: DSIR-style importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"): score
    * every document by the log-likelihood ratio between a TARGET unigram
    * bag-of-words model and the RAW-corpus model — log p_target(doc) −
    * log p_raw(doc) — so documents distributionally close to the target
    * domain score high and get resampled into the training mix. Here the
    * target model is fit on one source's documents (`targetSource`, the
    * "high-quality domain" stand-in); both models are add-one smoothed
    * over the raw vocabulary so every corpus token has defined probability
    * under both.
    *
    * Engine-exactness: each model's per-token log2-prob integerizes to
    * micro-bit BIGINTs separately (the q69/q78 device — round to 6
    * decimals, scale by 1e6, cast) and the ratio is the INTEGER difference
    * of the two, so the per-doc sum is exact integer arithmetic; the
    * output weight stays in micro-bits (no float division to disagree
    * on). `keep` = weight > 0 (target-leaning) is the row-local selection
    * bit; real DSIR resamples proportionally — the cutoff-percentile
    * variant is q78's approx-cutoff device applied to lr_microbits.
    *
    * Scale shape: q69's one-corpus-scan device, taken one step further —
    * the raw and target token counts come from ONE conditional
    * aggregation over tf (`sum(tf)` + `sum(tf WHERE source = target)`),
    * NOT two branches: a separate target branch would push its source
    * filter into a second corpus scan and break exchange reuse (probed on
    * the plan — the filtered subtree is no longer identical, so the
    * corpus would explode twice). With the conditional agg the corpus
    * explodes once, the vocab table and its one-row scalars chain off the
    * same tf exchange (runtime-reused, the q59/q69 pin), the scalar row
    * broadcasts, and the per-doc weight is a tf-weighted sum over
    * (doc, w) rows. The ratio-table join back to tf is left to the
    * planner (vocab is unbounded — the q69 rationale). The target table
    * is vocab-sized regardless of how big the target source is.
    */
  def dsirWeights(docs: DataFrame, targetSource: String = "src0"): DataFrame = {
    val tf = docs
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "source", "w").agg(count(lit(1)).as("tf"))
    val raw = tf.groupBy("w").agg(
      sum("tf").as("rcnt"),
      sum(when(col("source") === targetSource, col("tf")).otherwise(0L)).as("tcnt"))
    val scalars = raw.agg(
      count(lit(1)).as("v"), sum("rcnt").as("rtot"), sum("tcnt").as("ttot"))
    val microbits: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      p => round(round(log(2.0, p), 6) * 1e6, 0).cast("long")
    val lr = raw.crossJoin(broadcast(scalars))
      .select(col("w"),
        (microbits((col("tcnt") + 1.0) / (col("ttot") + col("v"))) -
          microbits((col("rcnt") + 1.0) / (col("rtot") + col("v")))).as("lr"))
    tf.join(lr, "w")
      .groupBy("doc_id", "source")
      .agg(sum(expr("tf * lr")).as("lr_microbits"), sum("tf").as("n_tokens"))
      .withColumn("keep", (col("lr_microbits") > 0).cast("long"))
  }

  /** Control characters stripped by [[normalizeText]] (keeps \t \n \r,
    * which the whitespace collapse then folds). One Scala constant
    * spliced into the Spark expression AND the DuckDB oracle (the
    * [[bpeTokenRe]] discipline) — hex escapes are Java-regex and RE2
    * compatible.
    */
  private[operators] val ctrlRe = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"

  /** Whitespace runs collapsed to one space by [[normalizeText]]. */
  private[operators] val wsRunRe = "[ \\t\\n\\r]+"

  /** q101: text canonicalization — the ftfy/Dolma-class cleanup stage a
    * web corpus needs before any fingerprint or token count is trustworthy:
    * (1) Unicode NFC via the native [[graft.functions.NfcNormalize]]
    * expression (combining sequences → precomposed, so 'Cafe'+U+0301 and
    * 'Café' dedup and tokenize identically), (2) control-character strip,
    * (3) whitespace-run collapse + trim. Scale shape: entirely row-local
    * column expressions inside one whole-stage-codegen span — zero
    * shuffle at any corpus size; the NFC kernel's ASCII fast path makes
    * the common case a byte scan with no allocation.
    *
    * `nfc_delta` (codepoints removed by composition) is the per-row
    * denormalization signal — on a clean corpus it is 0 and the kernel
    * never allocates.
    */
  def normalizeText(docs: DataFrame): DataFrame = {
    graft.functions.NormFunctions.register(docs.sparkSession)
    docs
      .withColumn("nfc", expr("graft_nfc(text)"))
      .select(
        col("doc_id"),
        trim(regexp_replace(regexp_replace(col("nfc"), ctrlRe, ""), wsRunRe, " "))
          .as("norm_text"),
        (length(col("text")) - length(col("nfc"))).cast("long").as("nfc_delta"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + distinct-token stats per document.
    "q31_text_stats" -> ((s, d) => {
      documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("len"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
    }),

    // Language-ID heuristic: stopword-hit ratio (deterministic n-gram-free
    // variant; the testdata text is synthetic so the score IS the output).
    "q32_lang_score" -> ((s, d) => {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_stop", expr(s"size(filter(toks, x -> x IN ($stopList)))"))
        .select(
          col("doc_id"), col("lang"),
          round(col("n_stop") / size(col("toks")), 4).as("stop_ratio"),
          when(col("n_stop") / size(col("toks")) > 0.04, "en").otherwise("other").as("guess"))
    }),

    // Document fingerprint: md5 over a normalized form (lowercase, strip
    // non-alphanumerics) — the canonical-form dedup key.
    "q33_fingerprint" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), fingerprintCol(col("text")).as("fp"))
    }),

    // BM25 ranked retrieval (see [[bm25TopK]]): every eval query scored
    // against the corpus under Okapi BM25, top-5 per query.
    "q144_bm25_topk" -> ((s, d) => bm25TopK(documents(s, d))),

    // TF-IDF: term frequency per (doc, token) × smoothed inverse document
    // frequency, top 20 scored terms corpus-wide. Scale shape: tf is a
    // combiner-friendly groupBy (duplicate tokens collapse map-side —
    // unlike q34's per-doc-distinct shingles, token repetition is real
    // here), df is a groupBy over the per-doc-distinct token table, the
    // corpus size joins in as a broadcast scalar, and top-k is
    // TakeOrdered (per-partition heaps, no global sort).
    "q48_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // tf is already one row per (doc, w), so document frequency is a
      // row-count per w OVER TF — the corpus-sized token explode runs once
      // (a separate distinct+groupBy branch would re-scan the corpus)
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      tf.join(dfreq, "w")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("w"), col("tf"),
          round(col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0), 4)
            .as("score"))
        .orderBy(desc("score"), col("doc_id"), col("w"))
        .limit(20)
    }),

    // Vocabulary coverage curve: the top-100 corpus tokens by frequency
    // with cumulative coverage share — the "what vocab size covers X% of
    // the token stream" analysis run before fixing a tokenizer vocab.
    // Scale shape: one combiner-friendly groupBy over the exploded token
    // stream (token frequencies are zipfian but a LONG count never skews a
    // partial agg), corpus token total folded from the SAME frequency
    // table (no second corpus scan), TakeOrdered for the top-k; the
    // running-sum window runs AFTER the limit, over 100 rows on one
    // partition — vocab-sized, not corpus-sized.
    "q59_vocab_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val total = freq.agg(sum("freq").as("total"))
      val w = Window.orderBy(desc("freq"), col("w"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      freq.orderBy(desc("freq"), col("w")).limit(100)
        .crossJoin(broadcast(total))
        .select(
          row_number().over(Window.orderBy(desc("freq"), col("w")))
            .cast("long").as("rank"),
          col("w"), col("freq"),
          round(sum("freq").over(w) / col("total"), 6).as("cum_share"))
        .orderBy("rank")
    }),

    // Within-document repetition signals (the Gopher-style repetition
    // filters): distinct-token ratio, most-frequent-token share, duplicate
    // bigram fraction. Row-local higher-order functions — zero shuffle at
    // any corpus size. Per-row cost is O(n_tokens × n_distinct) for the
    // top-token count, which assumes length-bounded documents (the normal
    // case after a length gate); for unbounded documents the explode →
    // groupBy(doc_id, w) formulation trades that for one shuffle.
    "q60_repetition_stats" -> ((s, d) => {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("bigrams", expr(
          """CASE WHEN size(toks) >= 2
               THEN transform(sequence(0, size(toks) - 2),
                              i -> concat(toks[i], ' ', toks[i + 1]))
               ELSE array() END"""))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          round(size(array_distinct(col("toks"))) / size(col("toks")).cast("double"), 6)
            .as("distinct_ratio"),
          round(expr(
            "array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))")
            / size(col("toks")).cast("double"), 6).as("top_share"),
          when(size(col("bigrams")) === 0, lit(0.0))
            .otherwise(round(lit(1.0) -
              size(array_distinct(col("bigrams"))) / size(col("bigrams")).cast("double"), 6))
            .as("dup_bigram_ratio"))
    }),

    // Sliding-window document chunking — the context-window prep step for
    // embedding / RAG / fixed-window training: each document explodes into
    // overlapping token windows (size 128, stride 64; the tail window may
    // be short). Row-local: start offsets are pure arithmetic
    // (sequence(0, n-1, stride)), chunk ids are start/stride (no ordinal
    // bookkeeping to shuffle), the explode inflates output linearly and
    // the plan stays a narrow map — zero shuffle at any corpus size.
    "q64_chunk_windows" -> ((s, d) => {
      val cs = 128
      val stride = 64
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n", size(col("toks")))
        .withColumn("start", explode(expr(s"sequence(0, n - 1, $stride)")))
        .select(
          col("doc_id"),
          (col("start") / stride).cast("long").as("chunk_id"),
          col("start").cast("long").as("start_tok"),
          least(lit(cs), col("n") - col("start")).cast("long").as("n_chunk_toks"),
          expr(s"array_join(slice(toks, start + 1, $cs), ' ')").as("chunk_text"))
    }),

    // PII / URL scrubbing: redact emails and URLs, count redactions —
    // the C4-style decontamination pass. Row-local regex projections
    // (Java-regex/RE2-compatible patterns), zero shuffle at any scale.
    // The sf fixtures contain neither pattern, so the oracle pins the
    // identity pass; TextOpsScrubSpec plants real addresses/URLs through
    // the same piiScrub body.
    "q68_pii_scrub" -> ((s, d) => piiScrub(documents(s, d))),

    // Unigram-surprisal quality score (the CCNet-style LM filter, with
    // the corpus's own unigram model standing in for the external LM):
    // score_d = -mean_t log2 p(t), p from corpus token frequencies —
    // low surprisal ≈ repetitive/common text, high ≈ rare-token soup.
    // Scale shape: q48's device — the corpus explodes ONCE into the tf
    // table (combiner-friendly groupBy), corpus frequency and total both
    // derive from tf (vocab-sized scans, not corpus re-scans), and the
    // per-doc mean is the tf-weighted sum over the (doc, w) rows. No
    // broadcast HINT on the log-prob table: a real vocab is unbounded
    // (ids, typos, urls grow it with the corpus), so the join strategy is
    // left to the planner — it broadcasts below the threshold and
    // shuffle-joins above it, instead of force-collecting an unbounded
    // table to the driver. Per-token surprisal is rounded before the mean
    // so cross-engine summation order cannot flip the rounded output.
    "q69_unigram_surprisal" -> ((s, d) =>
      surprisalBase(documents(s, d), Seq("doc_id"))),

    // Gopher-style quality gates (Rae et al. 2021 §A1.1): the rule-based
    // document filter run before any model-based scoring — word count in
    // [50, 100k], mean word length in [3, 10], ≥80% of words contain an
    // alphabetic character, ≥2 stopword hits. Every gate is an INTEGER
    // inequality (mean-word-length ∈ [3,10] ⇔ 3·n_tokens ≤ word_chars ≤
    // 10·n_tokens; the 80% alpha gate ⇔ 10·n_alpha ≥ 8·n_tokens), so the
    // gate bits are engine-exact — no float threshold can flip between
    // Spark and the oracle. Row-local column expressions over one scan:
    // zero shuffle at any corpus size, and at 100 TB this is the narrow
    // map stage fused into whatever scan feeds it.
    "q77_gopher_rules" -> ((s, d) => gopherRules(documents(s, d))),
    // CCNet-style head/middle/tail split (Wenzek et al. 2020): rank each
    // document within its source by LM surprisal (the corpus-unigram model
    // of q69 standing in for the external LM) and cut into tertiles —
    // head = most-fluent third, the slice CCNet keeps for pretraining.
    // Bucket assignment is integer ntile arithmetic over the per-source
    // rank (3·r ≤ n → head, 3·r > 2·n → tail), so the cut is engine-exact
    // — no percentile interpolation to disagree across engines. Scale
    // shape: surprisal is q69's one-corpus-scan device; the rank is a
    // per-source window sort, fine while sources are numerous relative to
    // executors (the q57 discipline) — at 100 TB with few giant sources
    // the cutoffs come from approx_percentile per source instead
    // (broadcast two cutoffs per source, row-local compare; the q46
    // exact-oracle / approx-at-scale device).
    "q78_surprisal_split" -> ((s, d) => surprisalSplit(documents(s, d))),

    // Hashed-feature linear quality scorer — the SERVING side of a
    // fastText-style classifier filter (Joulin et al. 2017's model shape:
    // hashed bag-of-words features × a weight vector → linear score; the
    // quality-classifier stage most pipeline papers run after the rule
    // gates). The weight table here is a deterministic function of the
    // feature bucket — (bucket · 2654435761) mod 1999 − 999, Knuth's
    // multiplicative hash over the 16-bit md5 bucket — standing in for
    // trained weights, so the operator exercises the real plumbing
    // (feature hashing, weight lookup, per-occurrence accumulate) with an
    // engine-exact oracle: every step is integer arithmetic on md5 hex
    // (products bounded by 65535·2654435761 ≈ 1.7e14, ample long
    // headroom). Scale shape: a single `aggregate` HOF over the token
    // array — row-local, zero shuffle at any corpus size, and with real
    // trained weights the lookup becomes a broadcast map, same plan.
    "q81_hash_quality" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr(
          """aggregate(split(text, ' '), 0L,
               (acc, x) -> acc + (cast(conv(substring(md5(x), 1, 4), 16, 10) as bigint)
                                  * 2654435761L) % 1999 - 999)""").as("score_raw"))
        .withColumn("keep", (col("score_raw") > 0).cast("long"))),

    // Bigram-LM surprisal (see [[bigramSurprisal]]): conditional
    // -mean log2 p(w_i | w_{i-1}) under an add-one-smoothed corpus bigram
    // model — the KenLM-shaped fluency filter one step up from q69's
    // unigram model, exact in micro-bit integers.
    "q88_bigram_surprisal" -> ((s, d) => bigramSurprisal(documents(s, d))),

    // Span-level quality pruning (see [[spanQualityPrune]]): cut 5-token
    // windows running ≥1.5× the document's own mean surprisal, keep the
    // prose — all-integer micro-bit comparisons, q115's reassembly.
    "q116_span_quality_prune" -> ((s, d) => spanQualityPrune(documents(s, d))),

    // The end-to-end curation waterfall (see [[pipelineWaterfall]]):
    // gates → dedup → decontam → quality as ONE query, per-stage drop
    // accounting, every stage the library's own shared expression.
    "q113_pipeline_waterfall" -> ((s, d) => pipelineWaterfall(documents(s, d))),

    // Held-out trigram Stupid Backoff surprisal (see
    // [[trigramBackoffSurprisal]]): Brants et al. 2007's count-only
    // backoff score, model = the doc_id%2=0 half, scored corpus = all
    // docs — the first LM filter in this family where the backoff chain
    // actually fires (q69/q88 train on the full corpus, so every gram
    // is seen by construction).
    "q108_trigram_backoff" -> ((s, d) => trigramBackoffSurprisal(documents(s, d))),

    // Character-distribution Shannon entropy per document — the classic
    // gibberish/encoding-noise gate (low entropy = repeated-char runs,
    // high = byte soup; both tails get cut before training). Entirely
    // row-local higher-order functions over the char array (the q60
    // device): per distinct char, count occurrences and weight its
    // integerized micro-bit -log2(p); the per-doc mean is the exact
    // integer half-up device, so the output double is int/10⁴ — identical
    // bits in both engines. Per-row cost is O(n_chars × n_distinct_chars)
    // with n_distinct bounded by the alphabet (~100 after any sane
    // charset gate). Zero shuffle at any corpus size.
    "q89_char_entropy" -> ((s, d) => charEntropy(documents(s, d))),

    // Text canonicalization (see [[normalizeText]]). The corpus fixture
    // is all-ASCII, so the query plants a deterministic suffix on every
    // row — a decomposed e+U+0301 (NFC must compose it), a control byte,
    // and a whitespace run — exercising all three cleanup paths against
    // the oracle's independent nfc_normalize/regexp pipeline.
    "q101_normalize_text" -> ((s, d) =>
      normalizeText(documents(s, d).withColumn("text",
        concat(col("text"), lit(" Cafe\u0301\u0001 \u000b  fin"))))),

    // BPE-ish token counting (see [[bpeTokenStats]]): whitespace count
    // next to a GPT-2-style pre-tokenizer regex count plus the
    // tokens-per-word factor — what a trained BPE vocab will bill vs
    // what the whitespace heuristics assume.
    "q91_bpe_tokens" -> ((s, d) => bpeTokenStats(documents(s, d))),

    // BPE merge LEARNING, iteration 1 in closed form (the q97 epoch-1
    // discipline): the weighted character-pair counts every BPE trainer
    // computes first, ranked with the deterministic (cnt DESC, a, b)
    // tie-break — rank 1 IS the first learned merge. The oracle recomputes
    // the identical statistic; the SPEC (not the oracle) pins multi-merge
    // training and the learn→apply round trip, because later iterations
    // depend on argmax-selected state the same way q97's later epochs
    // depend on sigmoid floats. The rank window runs over the pair-count
    // aggregate — bounded by the piece alphabet squared, never
    // corpus-sized.
    "q104_bpe_learn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(desc("cnt"), asc("a"), asc("b"))
      bpePairCounts(documents(s, d), "#none")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select("rk", "a", "b", "cnt")
    }),

    // REAL BPE token counting (see [[bpeRealTokens]]): actual byte-pair
    // merges from the fixture table, vocab-sized compute + broadcast
    // join-back; q91's pre-tokenizer count rides along as n_pretokens so
    // the cheap proxy's divergence is measured, not assumed.
    "q96_bpe_real_tokens" -> ((s, d) =>
      bpeRealTokens(documents(s, d), bpeMergesFixture)),

    // Tokenizer-fit report per source — see [[tokenizerFitReport]].
    "q120_tokenizer_fit" -> ((s, d) =>
      tokenizerFitReport(documents(s, d), bpeMergesFixture)),

    // Ingest provisioning plan (mix × fit) — see [[ingestPlan]].
    "q121_ingest_plan" -> ((s, d) =>
      ingestPlan(documents(s, d), bpeMergesFixture)),

    // Winnowing fingerprints (see [[winnowFingerprints]]): MOSS-style
    // local fingerprinting — window-min selection over word-3-gram
    // hashes, the sub-document dedup key at ~2/(w+1) storage.
    "q92_winnow_fingerprint" -> ((s, d) => winnowFingerprints(documents(s, d))),

    // DSIR importance weights (see [[dsirWeights]]): log-likelihood ratio
    // of each document under a target-domain vs raw-corpus unigram model,
    // in exact micro-bit integers; keep = target-leaning.
    "q82_dsir_weights" -> ((s, d) => dsirWeights(documents(s, d))),

    // Quality scoring: length/token heuristics → bucketed score.
    "q38_quality_score" -> ((s, d) => {
      documents(s, d)
        .withColumn("score", qualityScoreCol(col("text")))
        .select(
          col("doc_id"),
          round(col("score"), 4).as("score"),
          when(col("score") >= 0.75, "high")
            .when(col("score") >= 0.35, "mid")
            .otherwise("low").as("bucket"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q31_text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
         FROM documents""",

    "q32_lang_score" ->
      s"""SELECT doc_id, lang,
         round(CAST(len(list_filter(string_split(text,' '), x -> x IN ($stopList))) AS BIGINT)
               / CAST(len(string_split(text,' ')) AS BIGINT), 4) AS stop_ratio,
         CASE WHEN CAST(len(list_filter(string_split(text,' '), x -> x IN ($stopList))) AS BIGINT)
                   / CAST(len(string_split(text,' ')) AS BIGINT) > 0.04
              THEN 'en' ELSE 'other' END AS guess
         FROM documents""",

    "q33_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
         FROM documents""",

    // q144: the BM25 arithmetic mirrored term for term — the constants
    // interpolate from the SAME vals the operator binds, contributions
    // round to 6 before the 6-rounded per-doc sum (rounding the sum
    // coarser than its addends would be wrong — see bm25TopK's scaladoc),
    // ties break on doc_id.
    "q144_bm25_topk" ->
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id >= 10),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
         dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         stats AS (
           SELECT count(*) AS n,
                  (SELECT CAST(sum(dl) AS DOUBLE) FROM dl) / count(*) AS avgdl
           FROM corpus),
         qterms AS (
           SELECT doc_id AS qid, unnest(list_distinct(string_split(text, ' '))) AS w
           FROM documents WHERE doc_id < 10),
         contrib AS (
           SELECT q.qid, t.doc_id,
             round(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * (t.tf * ($bm25K1 + 1.0))
               / (t.tf + $bm25K1 * (1.0 - $bm25B + $bm25B * d.dl / s.avgdl)),
               6) AS c
           FROM tf t
           JOIN qterms q USING (w)
           JOIN dfreq f USING (w)
           JOIN dl d ON d.doc_id = t.doc_id
           CROSS JOIN stats s),
         scored AS (
           SELECT qid, doc_id, round(sum(c), 6) AS score
           FROM contrib GROUP BY qid, doc_id),
         btopk AS (
           SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
           FROM scored)
         SELECT qid, doc_id, score, CAST(rn AS BIGINT) AS rn
         FROM btopk WHERE rn <= 5 ORDER BY qid, rn""",

    "q48_tfidf" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
         dfreq AS (SELECT w, count(*) AS df
                   FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT tf.doc_id, tf.w, tf.tf,
                round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 4) AS score
         FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN n
         ORDER BY score DESC, tf.doc_id, tf.w
         LIMIT 20""",

    "q59_vocab_coverage" ->
      """WITH tok AS (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         freq AS (SELECT w, count(*) AS freq FROM tok GROUP BY w),
         total AS (SELECT sum(freq) AS total FROM freq),
         top AS (SELECT w, freq FROM freq ORDER BY freq DESC, w LIMIT 100)
         SELECT CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank,
                w, freq,
                round(CAST(sum(freq) OVER (ORDER BY freq DESC, w
                         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                      / (SELECT total FROM total), 6) AS cum_share
         FROM top ORDER BY rank""",

    "q60_repetition_stats" ->
      """SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6)
             AS distinct_ratio,
           round(list_max(list_transform(list_distinct(toks),
                   t -> len(list_filter(toks, x -> x = t))))
                 / CAST(len(toks) AS DOUBLE), 6) AS top_share,
           CASE WHEN len(bigrams) = 0 THEN 0.0
                ELSE round(1.0 - len(list_distinct(bigrams))
                           / CAST(len(bigrams) AS DOUBLE), 6) END
             AS dup_bigram_ratio
         FROM (
           SELECT doc_id, toks,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents) a) b
         """,

    "q64_chunk_windows" ->
      """SELECT doc_id,
           CAST(start // 64 AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS start_tok,
           CAST(least(128, n - start) AS BIGINT) AS n_chunk_toks,
           array_to_string(list_slice(toks, start + 1, start + 128), ' ') AS chunk_text
         FROM (
           SELECT doc_id, toks, len(toks) AS n,
                  unnest(range(0, len(toks), 64)) AS start
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents) a) b""",

    "q68_pii_scrub" ->
      s"""SELECT doc_id, clean_text,
           CAST(len(regexp_extract_all(clean_text, '<EMAIL>')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(clean_text, '<URL>')) AS BIGINT) AS n_urls
         FROM (
           SELECT doc_id,
             regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
                            '$urlRe', '<URL>', 'g') AS clean_text
           FROM documents) t""",

    "q69_unigram_surprisal" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
         freq AS (SELECT w, sum(tf) AS freq FROM tf GROUP BY w),
         total AS (SELECT sum(freq) AS total FROM freq),
         logp AS (
           SELECT w, CAST(round(round(-(ln(CAST(freq AS DOUBLE) / total) / ln(2.0)), 6)
                                * 1e6, 0) AS BIGINT) AS su
           FROM freq, total)
         SELECT t.doc_id,
                ((2 * sum(t.tf * l.su) + sum(t.tf) * 100) // (sum(t.tf) * 200))
                  / 10000.0 AS avg_surprisal,
                CAST(sum(t.tf) AS BIGINT) AS n_tokens
         FROM tf t JOIN logp l USING (w)
         GROUP BY t.doc_id""",

    "q77_gopher_rules" ->
      s"""SELECT doc_id, n_tokens, g_len, g_wlen, g_alpha, g_stop,
           CASE WHEN g_len = 1 AND g_wlen = 1 AND g_alpha = 1 AND g_stop = 1
                THEN 1 ELSE 0 END :: BIGINT AS keep
         FROM (
           SELECT doc_id, n_tokens,
             CASE WHEN $oracleGateLenSql THEN 1 ELSE 0 END :: BIGINT AS g_len,
             CASE WHEN $oracleGateWlenSql THEN 1 ELSE 0 END :: BIGINT AS g_wlen,
             CASE WHEN $oracleGateAlphaSql THEN 1 ELSE 0 END :: BIGINT AS g_alpha,
             CASE WHEN $oracleGateStopSql THEN 1 ELSE 0 END :: BIGINT AS g_stop
           FROM (${oracleDocStatsSql("doc_id")}) b) c""",

    "q78_surprisal_split" ->
      """WITH tok AS (
           SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
         tf AS (SELECT doc_id, source, w, count(*) AS tf FROM tok GROUP BY doc_id, source, w),
         freq AS (SELECT w, sum(tf) AS freq FROM tf GROUP BY w),
         total AS (SELECT sum(freq) AS total FROM freq),
         logp AS (
           SELECT w, CAST(round(round(-(ln(CAST(freq AS DOUBLE) / total) / ln(2.0)), 6)
                                * 1e6, 0) AS BIGINT) AS su
           FROM freq, total),
         surp AS (
           SELECT t.doc_id, t.source,
                  ((2 * sum(t.tf * l.su) + sum(t.tf) * 100) // (sum(t.tf) * 200))
                    / 10000.0 AS avg_surprisal
           FROM tf t JOIN logp l USING (w)
           GROUP BY t.doc_id, t.source)
         SELECT doc_id, source, avg_surprisal,
           CASE WHEN r * 3 <= n THEN 'head'
                WHEN r * 3 > n * 2 THEN 'tail'
                ELSE 'middle' END AS bucket
         FROM (
           SELECT *,
             row_number() OVER (PARTITION BY source ORDER BY avg_surprisal, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS n
           FROM surp) ranked""",

    "q81_hash_quality" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '),
             x -> (CAST('0x' || substr(md5(x), 1, 4) AS BIGINT) * 2654435761) % 1999 - 999))
             AS BIGINT) AS score_raw,
           CASE WHEN list_sum(list_transform(string_split(text, ' '),
             x -> (CAST('0x' || substr(md5(x), 1, 4) AS BIGINT) * 2654435761) % 1999 - 999)) > 0
             THEN 1 ELSE 0 END :: BIGINT AS keep
         FROM documents""",

    "q88_bigram_surprisal" ->
      """WITH big AS (
           SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a,
                LATERAL (SELECT unnest(range(1, len(toks))) AS i) b),
         tf2 AS (SELECT doc_id, w1, w2, count(*) AS tf FROM big GROUP BY ALL),
         bc AS (SELECT w1, w2, sum(tf) AS bcnt FROM tf2 GROUP BY ALL),
         cc AS (SELECT w1, sum(bcnt) AS ccnt FROM bc GROUP BY w1),
         vocab AS (SELECT count(*) AS v
                   FROM (SELECT w1 FROM bc UNION SELECT w2 FROM bc)),
         su AS (
           SELECT b.w1, b.w2,
             CAST(round(round(-(ln((b.bcnt + 1.0) / (c.ccnt + v.v)) / ln(2.0)), 6)
                        * 1e6, 0) AS BIGINT) AS su
           FROM bc b JOIN cc c USING (w1) CROSS JOIN vocab v)
         SELECT t.doc_id,
                ((2 * sum(t.tf * s.su) + sum(t.tf) * 100) // (sum(t.tf) * 200))
                  / 10000.0 AS avg_bigram_surprisal,
                CAST(sum(t.tf) AS BIGINT) AS n_bigrams
         FROM tf2 t JOIN su s ON t.w1 = s.w1 AND t.w2 = s.w2
         GROUP BY t.doc_id""",

    "q116_span_quality_prune" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         pos AS (SELECT doc_id, i, t[i] AS w
                 FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
         freq AS (SELECT w, count(*) AS freq FROM pos GROUP BY w),
         total AS (SELECT sum(freq) AS total FROM freq),
         su AS (SELECT w,
                  CAST(round(round(-(ln(CAST(freq AS DOUBLE) / total) / ln(2.0)), 6)
                             * 1e6, 0) AS BIGINT) AS su
                FROM freq, total),
         wins AS (
           SELECT p.doc_id, p.i,
             sum(s.su) OVER (PARTITION BY p.doc_id ORDER BY p.i
               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sum5,
             count(*) OVER (PARTITION BY p.doc_id ORDER BY p.i
               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS cnt5,
             sum(s.su) OVER (PARTITION BY p.doc_id) AS sdoc,
             count(*) OVER (PARTITION BY p.doc_id) AS ndoc
           FROM pos p JOIN su s USING (w)),
         marked AS (SELECT doc_id, i FROM wins
                    WHERE cnt5 = 5 AND 2 * sum5 * ndoc > 15 * sdoc),
         removed AS (SELECT DISTINCT p.doc_id, p.i
                     FROM pos p JOIN marked m
                       ON m.doc_id = p.doc_id AND p.i BETWEEN m.i AND m.i + 4),
         kept AS (
           SELECT p.doc_id, count(*) AS n_kept,
                  string_agg(p.w, ' ' ORDER BY p.i) AS clean_text
           FROM pos p LEFT JOIN removed r
             ON r.doc_id = p.doc_id AND r.i = p.i
           WHERE r.i IS NULL
           GROUP BY p.doc_id)
         SELECT c.doc_id,
           CAST(len(c.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.clean_text, '') AS clean_text
         FROM toks c LEFT JOIN kept k USING (doc_id)""",

    "q113_pipeline_waterfall" ->
      s"""WITH stats AS (${oracleDocStatsSql("doc_id")}),
         fpt AS (SELECT doc_id,
                   md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
                 FROM documents),
         enr AS (
           SELECT s.doc_id, f.fp,
             CASE WHEN $oracleGateLenSql AND $oracleGateWlenSql
                   AND $oracleGateAlphaSql AND $oracleGateStopSql
                  THEN 1 ELSE 0 END AS gate,
             ($oracleQualityScoreSql) AS q
           FROM stats s JOIN fpt f USING (doc_id)),
         corpus AS (SELECT * FROM enr WHERE doc_id >= 10),
         keeper AS (SELECT fp, min(doc_id) AS keep_id FROM corpus
                    WHERE gate = 1 GROUP BY fp),
         toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         grams AS (
           SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                  t[i+3] || ' ' || t[i+4] AS g
           FROM toks2, UNNEST(range(1, len(t) - 3)) AS u(i)
           WHERE len(t) >= 5),
         evalg AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
         surv AS (SELECT c.doc_id FROM corpus c JOIN keeper k USING (fp)
                  WHERE c.gate = 1 AND c.doc_id = k.keep_id),
         contam AS (SELECT DISTINCT gr.doc_id
                    FROM grams gr JOIN surv USING (doc_id)
                    JOIN evalg USING (g)),
         staged AS (
           SELECT c.doc_id,
             CASE WHEN c.gate = 0 THEN 'gates'
                  WHEN c.doc_id <> k.keep_id THEN 'dedup'
                  WHEN ct.doc_id IS NOT NULL THEN 'decontam'
                  WHEN c.q < 0.25 THEN 'quality'
                  ELSE 'kept' END AS stage
           FROM corpus c
           LEFT JOIN keeper k USING (fp)
           LEFT JOIN contam ct ON ct.doc_id = c.doc_id)
         SELECT doc_id, stage,
           CASE WHEN stage = 'kept' THEN 1 ELSE 0 END :: BIGINT AS kept
         FROM staged""",

    "q108_trigram_backoff" ->
      """WITH tri AS (
           SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a,
                LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) b),
         tf3 AS (SELECT doc_id, w1, w2, w3, count(*) AS tf FROM tri GROUP BY ALL),
         t3 AS (SELECT w1, w2, w3, sum(tf) AS t3 FROM tf3
                WHERE doc_id % 2 = 0 GROUP BY ALL),
         c12 AS (SELECT w1, w2, sum(t3) AS c12 FROM t3 GROUP BY ALL),
         c23 AS (SELECT w2, w3, sum(t3) AS c23 FROM t3 GROUP BY ALL),
         cu2 AS (SELECT w2, sum(t3) AS cu2 FROM t3 GROUP BY w2),
         cu3 AS (SELECT w3, sum(t3) AS cu3 FROM t3 GROUP BY w3),
         scal AS (SELECT (SELECT sum(t3) FROM t3) AS n,
                         (SELECT count(*) FROM
                           (SELECT w1 AS w FROM t3 UNION
                            SELECT w2 FROM t3 UNION
                            SELECT w3 FROM t3)) AS v),
         scored AS (
           SELECT f.doc_id, f.tf,
             CASE WHEN t.t3 IS NOT NULL THEN 1
                  WHEN b.c23 IS NOT NULL THEN 2
                  ELSE 3 END AS branch,
             CASE WHEN t.t3 IS NOT NULL THEN CAST(t.t3 AS DOUBLE) / x.c12
                  WHEN b.c23 IS NOT NULL
                    THEN CAST(0.4 AS DOUBLE) * (CAST(b.c23 AS DOUBLE) / u2.cu2)
                  ELSE CAST(0.4 AS DOUBLE) * (CAST(0.4 AS DOUBLE) *
                    ((coalesce(u3.cu3, 0) + CAST(1.0 AS DOUBLE)) / (s.n + s.v)))
             END AS prob
           FROM tf3 f
           LEFT JOIN t3 t USING (w1, w2, w3)
           LEFT JOIN c12 x USING (w1, w2)
           LEFT JOIN c23 b USING (w2, w3)
           LEFT JOIN cu2 u2 USING (w2)
           LEFT JOIN cu3 u3 USING (w3)
           CROSS JOIN scal s)
         SELECT doc_id,
           ((2 * sum(tf * CAST(round(round(-(ln(prob) / ln(2.0)), 6) * 1e6, 0) AS BIGINT))
             + sum(tf) * 100) // (sum(tf) * 200)) / 10000.0 AS avg_trigram_surprisal,
           CAST(sum(tf) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN branch = 1 THEN tf ELSE 0 END) AS BIGINT) AS n_tri_hits,
           CAST(sum(CASE WHEN branch = 2 THEN tf ELSE 0 END) AS BIGINT) AS n_bigram_backoffs,
           CAST(sum(CASE WHEN branch = 3 THEN tf ELSE 0 END) AS BIGINT) AS n_unigram_backoffs
         FROM scored GROUP BY doc_id""",

    "q89_char_entropy" ->
      """SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CASE WHEN length(text) = 0 THEN 0
                ELSE len(list_distinct(ch)) END :: BIGINT AS n_distinct_chars,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             ((2 * CAST(list_sum(list_transform(list_distinct(ch),
                 t -> len(list_filter(ch, x -> x = t)) *
                      CAST(round(round(-(ln(len(list_filter(ch, x -> x = t))
                                            / CAST(length(text) AS DOUBLE)) / ln(2.0)), 6)
                                 * 1e6, 0) AS BIGINT)))
               AS BIGINT) + length(text) * 100) // (length(text) * 200)) / 10000.0
           END AS char_entropy
         FROM (SELECT doc_id, text, string_split(text, '') AS ch FROM documents) a""",

    // iteration-1 pair counts: chars of each whitespace word, adjacent
    // pairs weighted by word frequency — the zip-unnest over (cs, index)
    // mirrors the Spark transform/sequence pair explode exactly
    "q104_bpe_learn" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
          tf AS (SELECT w, count(*) AS tf FROM tok WHERE w <> '' GROUP BY w),
          ch AS (SELECT tf, string_split(w, '') AS cs FROM tf
                 WHERE len(string_split(w, '')) >= 2),
          pairs AS (SELECT cs[CAST(i AS INT)] AS a,
                           cs[CAST(i AS INT) + 1] AS b, tf
                    FROM (SELECT tf, cs,
                            unnest(generate_series(1, len(cs) - 1)) AS i
                          FROM ch)),
          cnt AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS cnt
                  FROM pairs GROUP BY a, b)
          SELECT CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS BIGINT) AS rk,
                 a, b, cnt
          FROM cnt ORDER BY rk LIMIT 20""",

    // the augmentation suffix mirrors the query's lit() exactly: chr(769)
    // = U+0301 combining acute, chr(1)/chr(11) the planted control bytes;
    // ctrlRe/wsRunRe are the SAME Scala constants the Spark expression
    // compiles (hex escapes parse identically in Java regex and RE2)
    "q101_normalize_text" ->
      s"""WITH aug AS (
            SELECT doc_id,
                   text || ' Cafe' || chr(769) || chr(1) || ' ' || chr(11) || '  fin' AS t
            FROM documents),
          nf AS (SELECT doc_id, t, nfc_normalize(t) AS nfc FROM aug),
          norm AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(nfc, '$ctrlRe', '', 'g'),
                                       '$wsRunRe', ' ', 'g')) AS norm_text,
                   CAST(length(t) - length(nfc) AS BIGINT) AS nfc_delta
            FROM nf)
          SELECT doc_id, norm_text,
                 CAST(length(norm_text) AS BIGINT) AS n_chars_norm, nfc_delta
          FROM norm""",

    // the merge table is spliced from [[bpeMergesFixture]] (one constant,
    // the bpeTokenRe discipline); the recursive CTE applies the IDENTICAL
    // single-leftmost-lowest-rank merge loop as BpeKernel, so the engines
    // agree by construction. State is the word as space-separated symbols;
    // each recursion level applies one merge; a word's terminal row is the
    // one no merge applies to.
    "q120_tokenizer_fit" ->
      s"""WITH RECURSIVE
           $bpeOracleToksCtes,
           $bpeOracleSourceCtes
         SELECT b.source, b.n_docs, a.n_words, a.n_bpe_tokens, b.n_bytes,
           ((2 * a.n_bpe_tokens * 1000000 + a.n_words) // (2 * a.n_words))
             / 1000000.0 AS fertility,
           ((2 * b.n_bytes * 1000000 + a.n_bpe_tokens) // (2 * a.n_bpe_tokens))
             / 1000000.0 AS bytes_per_token
         FROM base b JOIN agg a USING (source)""",

    "q121_ingest_plan" ->
      s"""WITH RECURSIVE
           $bpeOracleToksCtes,
           $bpeOracleSourceCtes,
           per AS (
             SELECT b.source, a.n_bpe_tokens, b.n_bytes,
                    CAST(floor(sqrt(CAST(a.n_bpe_tokens AS DOUBLE))) AS BIGINT)
                      AS weight
             FROM base b JOIN agg a USING (source)),
           tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tot_w FROM per),
           planned AS (
             SELECT p.*, CAST((1000000 * p.weight) // t.tot_w AS BIGINT)
                      AS planned_tokens
             FROM per p, tot t)
         SELECT source, n_bpe_tokens, n_bytes, weight, planned_tokens,
           CAST((planned_tokens * n_bytes) // n_bpe_tokens AS BIGINT)
             AS planned_bytes,
           ((2 * planned_tokens * 1000000 + n_bpe_tokens)
             // (2 * n_bpe_tokens)) / 1000000.0 AS oversample
         FROM planned""",

    "q96_bpe_real_tokens" -> {
      s"""WITH RECURSIVE
           $bpeOracleToksCtes,
           tf AS (
             SELECT doc_id, w, count(*) AS tf FROM (
               SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) tw
             WHERE w <> '' GROUP BY doc_id, w),
           agg AS (
             SELECT t.doc_id,
                    CAST(sum(t.tf) AS BIGINT) AS n_words,
                    CAST(sum(t.tf * k.n_pieces) AS BIGINT) AS n_bpe_tokens
             FROM tf t JOIN toks k USING (w) GROUP BY t.doc_id)
         SELECT d.doc_id,
                CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
                CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
                CAST(len(regexp_extract_all(d.text, '${bpeTokenRe.replace("'", "''")}'))
                  AS BIGINT) AS n_pretokens
         FROM documents d LEFT JOIN agg a USING (doc_id)"""
    },

    // the pattern is spliced from [[bpeTokenRe]] (apostrophe doubled for
    // the SQL literal) so operator and oracle can never drift
    "q91_bpe_tokens" ->
      s"""SELECT doc_id, n_ws_tokens, n_bpe_tokens,
           ((2 * n_bpe_tokens * 10000 + n_ws_tokens) // (2 * n_ws_tokens)) / 10000.0
             AS tokens_per_word
         FROM (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '${bpeTokenRe.replace("'", "''")}'))
               AS BIGINT) AS n_bpe_tokens
           FROM documents) a""",

    "q92_winnow_fingerprint" ->
      """WITH sh AS (
           SELECT doc_id,
             list_transform(
               CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                    ELSE [] END,
               g -> CAST('0x' || substr(md5(g), 1, 12) AS BIGINT)) AS hs
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) a),
         fp AS (
           SELECT doc_id, len(hs) AS n_grams,
             CASE WHEN len(hs) = 0 THEN []
                  ELSE list_distinct(list_transform(
                         range(1, greatest(len(hs) - 4 + 1, 1) + 1),
                         i -> list_min(hs[i:i+3]))) END AS fps
           FROM sh)
         SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                CAST(len(fps) AS BIGINT) AS n_fps,
                -- coalesce: DuckDB's array_to_string of an EMPTY list is
                -- NULL (not ''), so a sub-3-token doc would digest NULL
                -- where Spark's array_join digests '' (md5('') = d41d8…)
                md5(coalesce(array_to_string(list_sort(fps), ','), ''))
                  AS fp_digest
         FROM fp""",

    "q82_dsir_weights" ->
      """WITH tok AS (
           SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
         tf AS (SELECT doc_id, source, w, count(*) AS tf
                FROM tok GROUP BY doc_id, source, w),
         raw AS (
           SELECT w, sum(tf) AS rcnt,
                  sum(CASE WHEN source = 'src0' THEN tf ELSE 0 END) AS tcnt
           FROM tf GROUP BY w),
         scalars AS (
           SELECT count(*) AS v, sum(rcnt) AS rtot, sum(tcnt) AS ttot FROM raw),
         lr AS (
           SELECT r.w,
             CAST(round(round(ln((r.tcnt + 1.0) / (s.ttot + s.v)) / ln(2.0), 6)
                        * 1e6, 0) AS BIGINT)
             - CAST(round(round(ln((r.rcnt + 1.0) / (s.rtot + s.v)) / ln(2.0), 6)
                          * 1e6, 0) AS BIGINT) AS lr
           FROM raw r, scalars s)
         SELECT f.doc_id, f.source,
                CAST(sum(f.tf * l.lr) AS BIGINT) AS lr_microbits,
                CAST(sum(f.tf) AS BIGINT) AS n_tokens,
                CASE WHEN sum(f.tf * l.lr) > 0 THEN 1 ELSE 0 END :: BIGINT AS keep
         FROM tf f JOIN lr l USING (w)
         GROUP BY f.doc_id, f.source""",

    "q38_quality_score" ->
      s"""SELECT doc_id, round(score, 4) AS score,
         CASE WHEN score >= 0.75 THEN 'high' WHEN score >= 0.35 THEN 'mid' ELSE 'low' END AS bucket
         FROM (
           SELECT doc_id, $oracleQualityScoreSql AS score
           FROM (${oracleDocStatsSql("doc_id")}) a) b
         """
  )
}
