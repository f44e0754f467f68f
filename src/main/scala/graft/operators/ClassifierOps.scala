package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes over hashed token buckets — the classic
  * cheap-and-strong text classifier a data pipeline trains for language /
  * domain / quality routing when a perceptron ([[ClusteringOps]]) is too
  * feature-poor and an LM ([[TextOps.lmIndex]]) too expensive per class.
  *
  * Model and scoring are INTEGER-EXACT in the house style: every
  * log-probability quantizes to `floor(ln(r) * 1e7 + 0.5)` once, scores
  * are exact long sums of those quanta, and prediction is the
  * (score DESC, label ASC) argmax — so the distributed result is
  * bit-identical at any partitioning and replayable by a DuckDB oracle.
  *
  * Scale design: training is ONE corpus-sized aggregation to
  * labels x buckets counts (map-side combined; constant-size reduce key
  * space, the [[SketchOps]] contract). Scoring joins the per-doc bucket
  * counts against the broadcast model (labels x buckets rows), never the
  * corpus against itself; the missing-bucket smoothing mass folds into a
  * closed form (`T_d * q0(label)`), so absent (label, bucket) pairs cost
  * nothing. The only non-broadcast shuffles are the per-doc token
  * aggregation and the final per-doc argmax.
  */
object ClassifierOps {

  private def bucketOf(c: org.apache.spark.sql.Column, buckets: Int) =
    pmod(graft.functions.GraftFunctions.fnv1a64(c), lit(buckets.toLong))

  /** Train: (label, b, c) hashed-unigram counts per label, plus one
    * `b = -1` row per label carrying its DOCUMENT count (the prior).
    * One aggregation; state is labels x (buckets + 1). */
  def nbTrain(docs: DataFrame, labelCol: String, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"bad nb buckets: $buckets")
    val feats = docs
      .select(col(labelCol).as("label"), explode(TextOps.alnumWords(col(textCol))).as("tok"))
      .select(col("label"), bucketOf(col("tok"), buckets).as("b"))
      .groupBy("label", "b").agg(count(lit(1)).as("c"))
    val priors = docs
      .groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("c"))
      .select(col("label"), lit(-1L).as("b"), col("c"))
    feats.unionByName(priors)
  }

  /** Classify `docs` against a prebuilt [[nbTrain]] model:
    * (idCol, pred_label, score_q) with
    * score_q = prior_q + T_d * q0 + Σ_b k_b * (q(label,b) - q0), where
    * q(label,b) = floor(ln((c+α)/(tot_label+αB)) * 1e7 + 0.5),
    * q0 = the same for c = 0, prior_q = floor(ln(n_label/N) * 1e7 + 0.5).
    * Ties break label-ascending. Docs with zero tokens score on priors
    * alone. */
  def nbClassify(docs: DataFrame, model: DataFrame, idCol: String,
      textCol: String, buckets: Int, alpha: Double = 1.0): DataFrame =
    // PLAN-OWNED CACHES (tier 2, operators/Caching.scala): the returned
    // per-doc plan re-reads the persisted model grid and per-doc bucket
    // table; [[nbConfusion]]'s bounded output releases them instead.
    nbClassifyImpl(docs, model, idCol, textCol, buckets, alpha)._1

  private def nbClassifyImpl(docs: DataFrame, model: DataFrame,
      idCol: String, textCol: String, buckets: Int, alpha: Double)
      : (DataFrame, Seq[DataFrame]) = {
    require(buckets > 0 && alpha > 0)
    val ab = alpha * buckets
    val q7 = (x: org.apache.spark.sql.Column) =>
      floor(log(x) * 1e7 + 0.5).cast("long")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // the trained model feeds priors, totals, per-label constants AND
    // the per-bucket grid — when it is an unpersisted corpus aggregation
    // (the nbConfusion shape) every reference would re-explode the train
    // corpus (the q184 double-scan class, which CatalogPlanSweepSpec's
    // detector catches). The grid is bounded (labels x (buckets+1)) — persist.
    val m = model.persist(lvl)
    val prior = m.filter(col("b") === -1L)
      .select(col("label"), col("c").as("nd"))
    val tot = m.filter(col("b") >= 0L)
      .groupBy("label").agg(sum("c").as("tot"))
    // per-label constants: zero-count quantum and prior quantum
    val lab = prior
      .join(tot, Seq("label"), "left")
      .na.fill(0L, Seq("tot"))
      .crossJoin(broadcast(prior.agg(sum(col("nd")).as("nn"))))
      .select(col("label"),
        q7(lit(alpha) / (col("tot") + lit(ab))).as("q0"),
        q7(col("nd").cast("double") / col("nn")).as("prior_q"))
    // per-(bucket, label) EXCESS over the zero-count quantum
    val modelQ = m.filter(col("b") >= 0L)
      .join(tot, "label")
      .select(col("b"), col("label"),
        (q7((col("c") + lit(alpha)) / (col("tot") + lit(ab))) -
          q7(lit(alpha) / (col("tot") + lit(ab)))).as("dq"))

    // per-doc bucket counts feed BOTH the delta join and the size sum —
    // persist so the test corpus is exploded once, not twice
    val dt = docs
      .select(col(idCol), explode(TextOps.alnumWords(col(textCol))).as("tok"))
      .select(col(idCol), bucketOf(col("tok"), buckets).as("b"))
      .groupBy(idCol, "b").agg(count(lit(1)).as("k"))
      .persist(lvl)
    val delta = dt.join(broadcast(modelQ), "b")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("k") * col("dq")).as("dsum"))
    val sizes = dt.groupBy(idCol).agg(sum("k").as("t"))

    val scored = docs.select(col(idCol))
      .join(sizes, Seq(idCol), "left").na.fill(0L, Seq("t"))
      .crossJoin(broadcast(lab))
      .join(delta, Seq(idCol, "label"), "left").na.fill(0L, Seq("dsum"))
      .select(col(idCol), col("label"),
        (col("prior_q") + col("t") * col("q0") + col("dsum")).as("score_q"))
    val out = scored
      .groupBy(idCol)
      .agg(min(struct((-col("score_q")).as("neg"), col("label"),
        col("score_q").as("sq"))).as("best"))
      .select(col(idCol), col("best.label").as("pred_label"),
        col("best.sq").as("score_q"))
    (out, Seq(m, dt))
  }

  /** Train-on-one-slice / classify-another confusion report:
    * (true_label, pred_label, n_docs) over the classified slice — the
    * end-to-end "route the corpus" shape a pipeline dashboards. */
  def nbConfusion(train: DataFrame, test: DataFrame, idCol: String,
      labelCol: String, textCol: String, buckets: Int,
      alpha: Double = 1.0): DataFrame = {
    val model = nbTrain(train, labelCol, textCol, buckets)
    val (pred, caches) =
      nbClassifyImpl(test, model, idCol, textCol, buckets, alpha)
    val out = pred
      .join(test.select(col(idCol), col(labelCol).as("true_label")), idCol)
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n_docs"))
    // bounded labels x labels grid: release the classifier caches here
    Caching.materializeAndRelease(out, caches: _*)
  }
}
