package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Cached

/** In-engine quality-classifier TRAINING over hashed bag-of-words features
  * (r10 verdict #5 — q81's missing half).
  *
  * q81 serves a linear scorer over 16-bit md5 feature buckets with a
  * stand-in weight function; this module trains real weights by logistic
  * regression: per epoch, ONE combiner-friendly aggregation computes the
  * per-doc scores under broadcast weights, a second computes the per-bucket
  * gradient, and the driver applies the update to the (≤65,536-entry —
  * bounded by the 16-bit bucket space, never corpus-sized) weight table.
  * This is the q72 Lloyd pattern applied to a classifier: model state
  * broadcasts down, sufficient statistics aggregate up, nothing
  * corpus-sized ever sits on the driver.
  *
  * Training labels for the q97 query are the q77 Gopher keep gate —
  * distilling rule gates into a classifier is the standard pipeline move
  * (fasttext-style quality classifiers are trained on rule-gated or
  * reference-corpus labels), and it makes the label derivable by the
  * DuckDB oracle from the shared gate fragments.
  *
  * Oracle pin (determinism): from the ZERO weight init, epoch 1 is
  * closed-form — σ(0) = ½ exactly, so the gradient for bucket j is
  * Σ_d (½ − y_d)·c_dj, and with learning rate 2 the post-epoch-1 weight is
  * the INTEGER w1[j] = (occurrences of j in keep docs) − (occurrences in
  * drop docs). q97 reports per-doc scores under w1 — every value integer,
  * engine-exact. Later epochs involve real sigmoids (floats), which is why
  * the oracle pins epoch 1 and the SPEC (not the oracle) pins multi-epoch
  * separation on a planted corpus.
  */
object ClassifierOps {

  private def documents(s: SparkSession, dir: String): DataFrame =
    graft.util.Tables.documents(s, dir)

  /** q81's feature hashing as a table: (doc_id, bucket, c) with bucket =
    * first 16 md5 bits of the token — ONE corpus explode + combiner
    * groupBy, the shared front half of training and serving.
    */
  def hashedFeatures(docs: DataFrame): DataFrame =
    docs
      // Not widened, and the callers' feature caches not filled: the
      // racing recomputes run on idle cores, while the exchange + fill
      // barriers are added wall (OPTIMIZATION_r17.md).
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(t), 1, 4), 16, 10) as bigint)").as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))

  /** q97's operator body: epoch-1 weights from zero init (the integer
    * closed form above) and each document's score under them. Scale shape:
    * the feature table persists once; weights are a ≤65,536-row aggregate
    * broadcast back; two linear shuffles total.
    */
  def trainQualityEpoch1(docs: DataFrame): DataFrame = Cached { c =>
    val labeled = docs.select(col("doc_id"),
      when(TextOps.gopherKeepCol(col("text")), 1L).otherwise(0L).as("y"))
    val feats = c.hold(hashedFeatures(docs))
    val w1 = feats.join(labeled, "doc_id")
      .groupBy("bucket")
      .agg(sum((col("y") * 2 - 1) * col("c")).as("w1"))
    val scores = feats.join(broadcast(w1), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("w1")).as("score1"))
    labeled
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y"),
        coalesce(col("score1"), lit(0L)).as("score1"))
      .withColumn("pred_keep", (col("score1") > 0).cast("long"))
  }

  /** Full logistic-regression training: `epochs` passes of batch gradient
    * descent with the given learning rate over (doc_id, bucket, c) features
    * and (doc_id, y∈{0,1}) labels. Returns the (bucket, w) weight table.
    *
    * Per epoch: scores under the current weights (broadcast ≤65,536-row
    * join + per-doc combiner agg), logistic residual σ(s)−y, per-bucket
    * gradient agg, driver-side update. The per-epoch collect is the
    * BOUNDED weight table (16-bit bucket space), the same documented
    * adaptive-local-state class as GraphOps' ≤1.6 MB component table —
    * never corpus-sized.
    */
  def trainLogistic(
      feats: DataFrame,
      labels: DataFrame,
      epochs: Int,
      lr: Double): DataFrame = Cached.scope { c =>
    val sp = feats.sparkSession
    import sp.implicits._
    val fj = c.hold(feats.join(labels, "doc_id")
      .select(col("doc_id"), col("bucket"), col("c").cast("double").as("c"),
        col("y").cast("double").as("y")), fill = true)
    var w: Map[Long, Double] = Map.empty
    for (_ <- 0 until epochs) {
      val wdf = broadcast(
        if (w.isEmpty) fj.select("bucket").distinct().withColumn("w", lit(0.0))
        else w.toSeq.toDF("bucket", "w"))
      val resid = fj.join(wdf, "bucket")
        .groupBy("doc_id", "y")
        .agg(sum(col("c") * col("w")).as("s"))
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) + exp(-col("s"))) - col("y")).as("resid"))
      val grad = fj.join(resid, "doc_id")
        .groupBy("bucket")
        .agg(sum(col("resid") * col("c")).as("g"))
        .collect() // bounded: ≤65,536 buckets
      val gm = grad.map(r => r.getLong(0) -> r.getDouble(1)).toMap
      w = gm.keysIterator.foldLeft(w) { (acc, b) =>
        acc.updated(b, acc.getOrElse(b, 0.0) - lr * gm(b))
      }
    }
    w.toSeq.toDF("bucket", "w")
  }

  /** q81's serving plumbing with a TRAINED weight table instead of the
    * stand-in hash weights: hashed features × broadcast weights → per-doc
    * linear score and the keep decision.
    */
  def scoreWithWeights(docs: DataFrame, weights: DataFrame): DataFrame =
    hashedFeatures(docs)
      .join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("w")).as("score"))
      .join(docs.select("doc_id"), Seq("doc_id"), "right")
      .select(col("doc_id"), coalesce(col("score"), lit(0.0)).as("score"))
      .withColumn("keep", (col("score") > 0).cast("long"))

  /** q102 held-out split bound on the first 32 md5 bits (q58's
    * engine-exact device, distinct salt): 80% train / 20% eval.
    */
  private val aucTrainBound = "cccccccc" // 0.8 * 2^32

  /** (doc_id, y, is_train): q102/q131's Gopher-gate labels on the 80/20
    * md5 split.
    */
  private def heldOutSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(TextOps.gopherKeepCol(col("text")), 1L).otherwise(0L).as("y"),
      (substring(md5(concat(lit("auc:"), col("doc_id").cast("string"))), 1, 8)
        < aucTrainBound).as("is_train"))

  /** q102: held-out ranking quality (AUC) of the classifier — the eval
    * metric that closes the train (q97) / serve (q81) loop. Train the
    * epoch-1 integer weights on the 80% md5 split, score the held-out
    * 20%, and compute AUC with the tied-rank histogram identity:
    *
    *   U = Σ_scores pos(s)·(neg_below(s) + ½·neg_at(s)),  AUC = U/(P·N)
    *
    * carried as the doubled integer u2 = Σ pos·(2·neg_below + neg) so
    * ties need no floats and both engines agree bit-exactly (the final
    * division uses the q93 integer half-up device).
    *
    * Scale shape: NO global row sort, and (r12) NO unpartitioned ordered
    * window either. The cumulative-negatives-below term is a two-pass
    * prefix sum over the score histogram: scores bin into ≤1,024
    * fixed-width ORDER-PRESERVING ranges (width from a one-row min/max
    * agg), per-range negative totals collect to the driver (≤1,024 longs
    * — the same candidate-bounded collect class as the ≤65,536-row
    * weight table), their exclusive prefix broadcasts back, and the
    * within-range window runs under partitionBy(r). The r11 watch item
    * this replaces: distinct integer scores grow with the eval split (up
    * to n_eval values), so Window.orderBy("s") with no partitionBy was
    * an unbounded single-task sort at 100 TB; now the largest ordered
    * task is one range's slice of the histogram. Everything before it is
    * linear shuffles: features, two broadcast-keyed joins, one groupBy.
    * u2 ≤ 2·P·N overflows long only past ~2·10⁹ held-out docs per side —
    * at that scale bucket scores into fixed-width bins first (the same
    * histogram, doubles in the final division only).
    */
  def aucEval(docs: DataFrame): DataFrame = Cached { c =>
    import org.apache.spark.sql.expressions.Window
    val split = c.hold(heldOutSplit(docs))
    val feats = c.hold(hashedFeatures(docs))
    val w1 = feats
      .join(split.filter(col("is_train")).select("doc_id", "y"), "doc_id")
      .groupBy("bucket")
      .agg(sum((col("y") * 2 - 1) * col("c")).as("w1"))
    val scores = feats
      .join(split.filter(!col("is_train")).select("doc_id"), "doc_id")
      .join(broadcast(w1), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("w1")).as("s"))
    val ev = split.filter(!col("is_train"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("y"), coalesce(col("s"), lit(0L)).as("s"))
    val hist = c.hold(ev.groupBy("s")
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg")))
    // two-pass prefix sum (see scaladoc): order-preserving fixed-width
    // ranges over [min, max], driver-side exclusive prefix of the
    // per-range negative totals (≤ nRanges longs), broadcast join back,
    // within-range window under partitionBy — no unpartitioned sort.
    val spark = docs.sparkSession
    val nRanges = 1024L
    val mm = hist.agg(min("s"), max("s")).collect()(0)
    val minS = if (mm.isNullAt(0)) 0L else mm.getLong(0)
    val maxS = if (mm.isNullAt(1)) 0L else mm.getLong(1)
    val width = math.max(1L, (maxS - minS) / nRanges + 1)
    val withR = hist.withColumn("r", expr(s"(s - ${minS}L) div ${width}L"))
    val rangeTotals = withR.groupBy("r").agg(sum("neg").as("rneg"))
      .collect().map(row => (row.getLong(0), row.getLong(1))).sortBy(_._1)
    val rangePrefix = rangeTotals
      .scanLeft((0L, 0L)) { case ((_, acc), (r, rneg)) => (r + 1, acc + rneg) }
      .map(_._2)
    val prefixRows = rangeTotals.map(_._1).zip(rangePrefix)
    import spark.implicits._
    val prefixDf = prefixRows.toSeq.toDF("r", "range_cnb")
    val withinRange = Window.partitionBy("r").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    withR
      .withColumn("wcnb", coalesce(sum("neg").over(withinRange), lit(0L)))
      .join(broadcast(prefixDf), "r")
      .withColumn("cnb", col("range_cnb") + col("wcnb"))
      .agg(sum("pos").as("n_pos"), sum("neg").as("n_neg"),
        sum(col("pos") * (lit(2) * col("cnb") + col("neg"))).as("u2"))
      .select(
        (col("n_pos") + col("n_neg")).as("n_eval"),
        col("n_pos"), col("n_neg"), col("u2"),
        (expr("(2 * u2 * 1000000 + nullif(2 * n_pos * n_neg, 0)) div " +
          "(2 * nullif(2 * n_pos * n_neg, 0))") / lit(1000000.0)).as("auc"))
  }

  /** q131: CALIBRATION bins (reliability diagram) of the held-out
    * classifier scores — the companion to q102's AUC: AUC says the
    * ranking is right, calibration says the SCORES mean what a
    * thresholding pipeline (q103's stratified top-k, q100's mix
    * budgeting) treats them as meaning. The held-out (y, s) pairs bin
    * into `nBins` fixed-width ORDER-PRESERVING score ranges (width from
    * the one-row min/max agg — no rank window, no global sort, the q102
    * histogram discipline), and each bin reports its observed positive
    * rate next to its mean score. Every reported ratio divides two
    * exactly-agreed integers, so the oracle comparison is
    * boundary-free.
    *
    * Scale shape: the train/score chain is q102's (linear shuffles +
    * broadcast weight join); binning adds one 1-row aggregate and one
    * ≤nBins-key exchange. The eval split is sample-bounded by design at
    * scale (q111's truth-side argument).
    */
  def calibrationBins(docs: DataFrame, nBins: Int = 10): DataFrame = Cached { c =>
    val split = c.hold(heldOutSplit(docs))
    val feats = c.hold(hashedFeatures(docs))
    val w1 = feats
      .join(split.filter(col("is_train")).select("doc_id", "y"), "doc_id")
      .groupBy("bucket")
      .agg(sum((col("y") * 2 - 1) * col("c")).as("w1"))
    val scores = feats
      .join(split.filter(!col("is_train")).select("doc_id"), "doc_id")
      .join(broadcast(w1), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("w1")).as("s"))
    val ev = split.filter(!col("is_train"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("y"), coalesce(col("s"), lit(0L)).as("s"))
    val mm = ev.agg(min("s").as("lo"), max("s").as("hi"))
    ev.crossJoin(broadcast(mm))
      .withColumn("bin", expr(s"CAST((s - lo) * $nBins DIV (hi - lo + 1) AS BIGINT)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"), sum("s").as("sum_s"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"),
        round(col("sum_s").cast("double") / col("n"), 6).as("mean_score"))
      .orderBy("bin")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Classifier training, epoch 1 (see object scaladoc): Gopher-gate
    // labels, hashed features, zero-init logistic gradient in closed
    // integer form; per-doc scores under the epoch-1 weights.
    "q97_train_quality" -> ((s, d) => trainQualityEpoch1(documents(s, d))),

    // Held-out AUC of the epoch-1 scorer (see [[aucEval]]): the
    // train/serve/EVAL triad's missing leg, exact in integers via the
    // tied-rank histogram identity.
    "q102_auc_eval" -> ((s, d) => aucEval(documents(s, d))),

    // Calibration (reliability) bins over the held-out scores — see
    // [[calibrationBins]].
    "q131_calibration_bins" -> ((s, d) => calibrationBins(documents(s, d))))

  val oracle: Map[String, String] = Map(
    "q97_train_quality" ->
      s"""WITH y AS (
           SELECT doc_id,
             CASE WHEN ${TextOps.oracleGateLenSql}
                   AND ${TextOps.oracleGateWlenSql}
                   AND ${TextOps.oracleGateAlphaSql}
                   AND ${TextOps.oracleGateStopSql}
                  THEN 1 ELSE 0 END :: BIGINT AS y
           FROM (${TextOps.oracleDocStatsSql("doc_id")}) b),
         feats AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(t), 1, 4) AS BIGINT) AS bucket,
                  count(*) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents) tok
           WHERE t <> ''
           GROUP BY doc_id, bucket),
         w1 AS (
           SELECT f.bucket, CAST(sum((y.y * 2 - 1) * f.c) AS BIGINT) AS w1
           FROM feats f JOIN y USING (doc_id)
           GROUP BY f.bucket),
         scores AS (
           SELECT f.doc_id, CAST(sum(f.c * w.w1) AS BIGINT) AS score1
           FROM feats f JOIN w1 w USING (bucket)
           GROUP BY f.doc_id)
         SELECT y.doc_id, y.y,
                CAST(coalesce(s.score1, 0) AS BIGINT) AS score1,
                CASE WHEN coalesce(s.score1, 0) > 0 THEN 1 ELSE 0 END :: BIGINT
                  AS pred_keep
         FROM y LEFT JOIN scores s USING (doc_id)""",

    // the y/feats CTEs mirror q97's; the split is q58's md5 device with
    // the 'auc:' salt; the histogram window and doubled-U tie handling
    // mirror [[aucEval]] step for step in BIGINT arithmetic
    "q102_auc_eval" ->
      s"""WITH sp AS (
           SELECT doc_id,
             CASE WHEN ${TextOps.oracleGateLenSql}
                   AND ${TextOps.oracleGateWlenSql}
                   AND ${TextOps.oracleGateAlphaSql}
                   AND ${TextOps.oracleGateStopSql}
                  THEN 1 ELSE 0 END :: BIGINT AS y,
             substr(md5('auc:' || CAST(doc_id AS VARCHAR)), 1, 8) < '$aucTrainBound'
               AS is_train
           FROM (${TextOps.oracleDocStatsSql("doc_id")}) b),
         feats AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(t), 1, 4) AS BIGINT) AS bucket,
                  count(*) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents) tok
           WHERE t <> ''
           GROUP BY doc_id, bucket),
         w1 AS (
           SELECT f.bucket, CAST(sum((sp.y * 2 - 1) * f.c) AS BIGINT) AS w1
           FROM feats f JOIN sp USING (doc_id)
           WHERE sp.is_train
           GROUP BY f.bucket),
         scores AS (
           SELECT f.doc_id, CAST(sum(f.c * w.w1) AS BIGINT) AS s
           FROM feats f JOIN w1 w USING (bucket) JOIN sp USING (doc_id)
           WHERE NOT sp.is_train
           GROUP BY f.doc_id),
         ev AS (
           SELECT sp.y, CAST(coalesce(s.s, 0) AS BIGINT) AS s
           FROM sp LEFT JOIN scores s USING (doc_id)
           WHERE NOT sp.is_train),
         hist AS (
           SELECT s, CAST(sum(y) AS BIGINT) AS pos,
                  CAST(sum(1 - y) AS BIGINT) AS neg
           FROM ev GROUP BY s),
         cum AS (
           SELECT pos, neg,
                  CAST(coalesce(sum(neg) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cnb
           FROM hist),
         agg AS (
           SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                  CAST(sum(neg) AS BIGINT) AS n_neg,
                  CAST(sum(pos * (2 * cnb + neg)) AS BIGINT) AS u2
           FROM cum)
         SELECT n_pos + n_neg AS n_eval, n_pos, n_neg, u2,
                ((2 * u2 * 1000000 + nullif(2 * n_pos * n_neg, 0))
                  // (2 * nullif(2 * n_pos * n_neg, 0))) / 1000000.0 AS auc
         FROM agg""",

    // q131: q102's train/score CTEs verbatim, then fixed-width
    // order-preserving score bins from the one-row min/max — every
    // reported ratio divides exactly-agreed integers.
    "q131_calibration_bins" ->
      s"""WITH sp AS (
           SELECT doc_id,
             CASE WHEN ${TextOps.oracleGateLenSql}
                   AND ${TextOps.oracleGateWlenSql}
                   AND ${TextOps.oracleGateAlphaSql}
                   AND ${TextOps.oracleGateStopSql}
                  THEN 1 ELSE 0 END :: BIGINT AS y,
             substr(md5('auc:' || CAST(doc_id AS VARCHAR)), 1, 8) < '$aucTrainBound'
               AS is_train
           FROM (${TextOps.oracleDocStatsSql("doc_id")}) b),
         feats AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(t), 1, 4) AS BIGINT) AS bucket,
                  count(*) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents) tok
           WHERE t <> ''
           GROUP BY doc_id, bucket),
         w1 AS (
           SELECT f.bucket, CAST(sum((sp.y * 2 - 1) * f.c) AS BIGINT) AS w1
           FROM feats f JOIN sp USING (doc_id)
           WHERE sp.is_train
           GROUP BY f.bucket),
         scores AS (
           SELECT f.doc_id, CAST(sum(f.c * w.w1) AS BIGINT) AS s
           FROM feats f JOIN w1 w USING (bucket) JOIN sp USING (doc_id)
           WHERE NOT sp.is_train
           GROUP BY f.doc_id),
         ev AS (
           SELECT sp.y, CAST(coalesce(s.s, 0) AS BIGINT) AS s
           FROM sp LEFT JOIN scores s USING (doc_id)
           WHERE NOT sp.is_train),
         mm AS (SELECT min(s) AS lo, max(s) AS hi FROM ev),
         binned AS (
           SELECT y, s, CAST((s - lo) * 10 // (hi - lo + 1) AS BIGINT) AS bin
           FROM ev CROSS JOIN mm)
         SELECT bin, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(y) AS BIGINT) AS n_pos,
                round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
                round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_score
         FROM binned GROUP BY bin ORDER BY bin""")
}
