package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association-rule mining (the Apriori pair level) with
  * integer-exact metrics: confidence and lift ship as quantized integer
  * divisions (permille / ppm), never engine-varying float ratios, so the
  * whole rule table hash-matches an external replay.
  *
  * Scale design: the only corpus-sized work is the per-basket pair
  * self-join — keyed by basket, so a basket with B distinct items emits
  * B(B-1)/2 rows. `maxBasketSize` ENFORCES the bound: baskets above it are
  * removed (one cheap size aggregation + a semi-join) before any pair is
  * emitted, and the drop count is logged — never a silent cap. Supports are
  * map-side-combined counts over the (item-pair) key space; the rule
  * expansion runs on the pair table, which min-support has already cut. */
object AssociationOps {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Pairwise association rules over an (basket, item) incidence list.
    *
    * Output, one row per ordered rule ante -> cons (both directions of
    * every supported pair):
    * (ante, cons, n_ab, n_ante, n_cons, n_baskets,
    *  conf_permille = n_ab*1000 div n_ante,
    *  lift_ppm = n_ab*n_baskets*1000000 div (n_ante*n_cons)).
    *
    * `minPairSupport` prunes the pair table before the rule expansion —
    * the Apriori trick that keeps output linear in interesting rules.
    * `maxBasketSize` (default 10,000 distinct items — generous; real
    * retail/log baskets are orders of magnitude smaller) drops degenerate
    * baskets whose quadratic pair fan-out would dominate the job (a single
    * 10^5-item basket alone emits 5*10^9 pair rows); every drop is counted
    * and logged at WARN. Dropped baskets are excluded from item supports
    * and `n_baskets` too, keeping the metrics internally consistent.
    * Budget note: lift_ppm's numerator is n_ab * n_baskets * 1e6 — at
    * billions of baskets drop the quantization to ppt or pre-divide. */
  def associationRules(
      incidence: DataFrame, keyCol: String, itemCol: String,
      minPairSupport: Long = 2L, maxBasketSize: Long = 10000L): DataFrame = {
    // exactly ONE cached incidence projection outlives the scope (`inc`):
    // the RETURNED plan reads it, so it depends on that cache until the
    // caller's session drops it (Bench reclaims between queries)
    val raw = incidence
      .select(col(keyCol).as("k"), col(itemCol).as("item"))
      .distinct()
      .persist()
    val (inc, nBaskets) = Caching.scope { s =>
      val sizes = s.persist(raw.groupBy("k").agg(count(lit(1)).as("bsz")))
      val keepKeys = sizes.filter(col("bsz") <= maxBasketSize).select("k")
      val nBaskets = keepKeys.count()
      val nDropped = sizes.count() - nBaskets
      if (nDropped > 0)
        logger.warn(
          s"associationRules: dropped $nDropped basket(s) with more than " +
            s"$maxBasketSize distinct items (quadratic pair fan-out guard)")
      if (nDropped == 0) (raw, nBaskets)
      else {
        val filtered = raw.join(keepKeys, Seq("k"), "left_semi").persist()
        filtered.count() // materialize before the scope drops raw
        s.own(raw)
        (filtered, nBaskets)
      }
    }
    val itemSupp = inc.groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = inc.as("x")
      .join(inc.as("y"),
        col("x.k") === col("y.k") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairSupport)
    val rules = pairs
      .select(col("a").as("ante"), col("b").as("cons"), col("n_ab"))
      .unionAll(pairs
        .select(col("b").as("ante"), col("a").as("cons"), col("n_ab")))
    rules
      .join(itemSupp.select(col("item").as("ante"), col("n_item").as("n_ante")),
        "ante")
      .join(itemSupp.select(col("item").as("cons"), col("n_item").as("n_cons")),
        "cons")
      .select(col("ante"), col("cons"), col("n_ab"), col("n_ante"),
        col("n_cons"), lit(nBaskets).as("n_baskets"),
        expr("n_ab * 1000 div n_ante").as("conf_permille"),
        expr(s"n_ab * $nBaskets * 1000000 div (n_ante * n_cons)")
          .as("lift_ppm"))
  }
}
