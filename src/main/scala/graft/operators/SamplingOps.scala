package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions

/** Deterministic sampling / domain-mixing operators for training-data
  * pipelines (SURVEY.md §7 step 10 extensions).
  *
  * A pretraining corpus is assembled by RE-WEIGHTING heterogeneous sources
  * (the "data mixture" of the GPT-3 / Gopher / LLaMA papers): each domain
  * is down-sampled to hit a target weight. At 100 TB the sample decision
  * must be (a) per-row with no shuffle, (b) deterministic across runs,
  * retries, and cluster sizes — `DataFrame.sample` is none of those
  * (partition-seeded RNG changes with repartitioning). Here the decision
  * is a pure hash of the row's own key: keep iff
  * `uniform(key) = (fnv1a64(key || salt) >>> 11) / 2^53 < rate`.
  * The >>> 11 keeps the top 53 bits, so the double is exact and the same
  * arithmetic is expressible in any engine (the DuckDB oracle replays it
  * bit-for-bit; salt switching yields independent samples).
  */
object SamplingOps {

  /** Deterministic uniform in [0,1) from a key column + salt — exact
    * 53-bit double, codegen-native ([[GraftFunctions.fnv1a64]] is a custom
    * Catalyst expression with doGenCode). */
  def uniformHash(key: Column, salt: String): Column =
    (shiftrightunsigned(
      GraftFunctions.fnv1a64(concat(key.cast("string"), lit(":" + salt))), 11)
      .cast("double") / lit(9007199254740992.0)) // 2^53

  /** Poisson(1) CDF thresholds (cdf_k = Σ_{j<=k} e⁻¹/j!, k = 0..7) —
    * computed ONCE in the JVM and embedded as the same shortest-
    * round-trip double literals in the DuckDB oracle (the
    * Benford/dcgDiscounts no-transcendental-in-either-engine recipe).
    * Drives the deterministic bootstrap weights in [[bootstrapCi]]:
    * weight = #{thresholds below u}, capped at 8. */
  val poissonCdf: Array[Double] = {
    val out = new Array[Double](8)
    var p = math.exp(-1.0)
    var c = p
    out(0) = c
    var k = 1
    while (k < 8) { p /= k; c += p; out(k) = c; k += 1 }
    out
  }

  /** Poisson-bootstrap confidence interval for the per-group mean of an
    * integer `valueCol` (cents) — distribution-free uncertainty for any
    * census number this engine reports ("the mean quality score moved
    * 0.3: is that real?"). The classic resample-with-replacement is
    * undistributable; the Poisson bootstrap is its standard
    * shuffle-free equivalent: resample `b` assigns every row an
    * independent Poisson(1) weight, here DETERMINISTIC — the weight is
    * the inverse-CDF of [[uniformHash]](id#b, salt) against the
    * [[poissonCdf]] literal thresholds — so any engine replays every
    * resample bit-for-bit.
    *
    * The interval is the [loPermille, hiPermille] disc percentile
    * (rank = ceil(p·n_boot)) of the `b` resample means, ties broken by
    * replicate index; empty resamples (possible only for tiny groups)
    * are excluded and visible via n_boot. Resample means are ONE
    * [[Stats.limbDouble]] division each (exact integer Σw·x and Σw).
    *
    * Rows with a NULL `idCol` or NULL `valueCol` are excluded UP FRONT
    * — a NULL id cannot be deterministically resampled (its hash is
    * NULL → weight 0 in every replicate), so keeping it only in the
    * original mean would report a CI around a different population
    * than the point estimate. Exclusion keeps both sides honest; `n`
    * counts what both actually saw.
    *
    * Output per group: (groupCol, n, mean, boot_lo, boot_hi, n_boot).
    *
    * Scale: the b-fold explode collapses IMMEDIATELY into the
    * (group, replicate) grid by a map-side-combined aggregation — the
    * shuffle is grid-sized (|groups|·(b+1)), never b× the data; the
    * original mean rides the same scan as replicate −1 (weight 1), so
    * the corpus is read ONCE; percentile selection is keyed windows
    * over the bounded per-group replicate set. */
  def bootstrapCi(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, b: Int = 32, loPermille: Int = 50,
      hiPermille: Int = 950, salt: String = "boot"): DataFrame = {
    require(b >= 2 && b <= 1024, s"b must be in [2, 1024]: $b")
    require(loPermille >= 0 && hiPermille <= 1000 &&
      loPermille <= hiPermille,
      s"bad permille band: [$loPermille, $hiPermille]")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // weight = #{cdf thresholds <= u} via a fixed comparison chain; the
    // original pass rides as replicate -1 with weight 1. The uniform
    // hash is MATERIALIZED as its own projection column first:
    // inlining it repeated the concat+fnv tree once per threshold (8x)
    // and codegen subexpression elimination did not collapse the copies
    // — measured 2.6 s vs 0.9 s for the weight projection at sf0.1.
    val w = when(col("__b") === -1, lit(1))
      .otherwise(poissonCdf.foldLeft(lit(0)) { (acc, t) =>
        acc + when(col("__u") >= t, 1).otherwise(0)
      })
    val grid = df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"),
        col(idCol).cast("string").as("__id"))
      .withColumn("__b", explode(array((-1 until b).map(lit(_)): _*)))
      .withColumn("__u", uniformHash(concat(col("__id"), lit("#"),
        col("__b").cast("string")), salt))
      .withColumn("__w", w)
      .groupBy("__g", "__b")
      .agg(sum(col("__w").cast(dec)).cast(dec).as("__n"),
        sum((col("__w").cast(dec) * col("__v")).cast(dec)).cast(dec)
          .as("__s"))
      .filter(col("__n") > 0)
      .withColumn("__mean",
        Stats.limbDouble(col("__s")) / Stats.limbDouble(col("__n")))
    val boots = grid.filter(col("__b") >= 0)
    val wAll = Window.partitionBy("__g")
    val wOrd = Window.partitionBy("__g").orderBy(col("__mean"), col("__b"))
    val ranked = boots
      .withColumn("__nb", count(lit(1)).over(wAll))
      .withColumn("__r", row_number().over(wOrd))
      .withColumn("__lo",
        expr(s"cast(($loPermille * __nb + 999) div 1000 as int)"))
      .withColumn("__hi",
        expr(s"cast(($hiPermille * __nb + 999) div 1000 as int)"))
      .groupBy("__g")
      .agg(max(when(col("__r") === greatest(col("__lo"), lit(1)),
          col("__mean"))).as("boot_lo"),
        max(when(col("__r") === greatest(col("__hi"), lit(1)),
          col("__mean"))).as("boot_hi"),
        max("__nb").as("n_boot"))
    grid.filter(col("__b") === -1)
      .select(col("__g"), col("__n").cast("long").as("n"),
        col("__mean").as("mean"))
      .join(ranked, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"), col("mean"),
        col("boot_lo"), col("boot_hi"),
        coalesce(col("n_boot"), lit(0L)).as("n_boot"))
  }

  /** Per-stratum deterministic Bernoulli sample: keep a row iff its hash
    * uniform is below the stratum's rate. Strata absent from `rates` use
    * `defaultRate`. Pure filter — no shuffle, no state. */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      rates: Map[String, Double],
      defaultRate: Double,
      salt: String = "graft"): DataFrame = {
    val rateExpr = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(uniformHash(col(keyCol), salt) < rateExpr)
  }

  /** Per-stratum keep-rates that realize target mixture `weights` at the
    * LARGEST achievable corpus size: with stratum counts c_s and weights
    * w_s (sum 1), the bottleneck stratum is argmin c_s/w_s, kept whole;
    * every other stratum is down-sampled to rate_s = w_s * T / c_s where
    * T = min_s(c_s / w_s). Strata not in `weights` are dropped (rate 0 by
    * omission from the result).
    *
    * Returns (stratum, n, rate). The aggregation output is one row per
    * stratum — bounded by the domain count, never by data size — and the
    * global min is an in-plan cross join of a 1-row aggregate, so the
    * whole computation stays distributed (no driver collect). */
  def mixingRates(
      df: DataFrame,
      strataCol: String,
      weights: Map[String, Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF("__stratum", "__w")
    val counts = df.groupBy(col(strataCol).as("__stratum"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(wdf), "__stratum")
    val tmin = counts.agg(min(col("n") / col("__w")).as("__t"))
    counts.crossJoin(broadcast(tmin))
      .select(col("__stratum").as(strataCol), col("n"),
        least(lit(1.0), col("__w") * col("__t") / col("n")).as("rate"))
  }

  /** Exact floor division of non-negative DECIMAL(38,0) columns:
    * `(a - a % b) / b` keeps every step integer-exact. A bare `floor(a/b)`
    * is NOT — Spark's decimal division rounds the quotient at scale 6, so
    * a true quotient within 1e-6 below an integer rounds UP across the
    * boundary before floor sees it. This is the one quota divider shared
    * by the Hamilton-style apportionments ([[waterFillAllocation]]'s
    * budget fraction and per-source shares, [[neymanAllocation]]'s floor
    * quotas). */
  private[operators] def decFloorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("decimal(38,0)")

  /** Budget-constrained mixture allocation ("water-filling"): spend a
    * fixed token `budget` across sources in proportion to `weightCol`,
    * capping each source at its availability and redistributing the
    * surplus across the remaining sources — the allocation step of
    * data-mixing recipes where target proportions meet finite corpora.
    * ([[mixingRates]] answers the dual question: the LARGEST exact
    * mixture with no budget; this answers: given a budget, how much of
    * each source to take.)
    *
    * Exact, engine-reproducible semantics (no floats on any decision
    * path): capped sources form a PREFIX of the availability/weight
    * ascending order (the classic water-level result — removing a capped
    * source only RAISES the level, so caps happen in ratio order), and
    * the first source failing the exact DECIMAL(38,0) cross-product test
    *   a_i * W_rem <= B_rem * w_i
    * (its prefix's remaining budget B_rem and weight W_rem) cuts the
    * prefix. Uncapped sources get floor(B* * w_i / W*). Flooring leaves
    * < |uncapped| tokens unspent by design.
    *
    * Scale: every window and aggregate here runs over the BOUNDED
    * per-source table (one row per source — model state, like centroids),
    * never data rows; the ratio sort is the one tiny exchange.
    * Precondition: available * totalWeight fits DECIMAL(38,0) — true for
    * any real corpus (10^14 tokens x 10^4 weight parts = 10^18).
    *
    * Output: (source, available, weight, capped, allocated). */
  def waterFillAllocation(counts: DataFrame, sourceCol: String,
      availCol: String, weightCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    waterFillImpl(counts, sourceCol, availCol, weightCol,
      d => d.sparkSession.range(1)
        .select(lit(budget).cast("decimal(38,0)").as("__budget")))
  }

  /** [[waterFillAllocation]] with the budget expressed as an exact
    * FRACTION of the total availability: budget =
    * floor(sum(availCol) * budgetNum / budgetDen), folded INTO the plan —
    * no driver-side sum, so a pipeline that spends "half the corpus"
    * never pays an eager synchronization job before the allocation.
    * The floor is computed remainder-exactly in DECIMAL(38,0)
    * (q - pmod(q, den)) / den — no scale-6 decimal-division rounding on
    * the decision path. */
  def waterFillAllocation(counts: DataFrame, sourceCol: String,
      availCol: String, weightCol: String,
      budgetNum: Long, budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"budget fraction must be >= 0 with positive denominator: " +
        s"$budgetNum/$budgetDen")
    val dec = "decimal(38,0)"
    waterFillImpl(counts, sourceCol, availCol, weightCol, d => {
      val q = sum(col("__a")).cast(dec) * lit(budgetNum).cast(dec)
      d.agg(decFloorDiv(q, lit(budgetDen).cast(dec)).as("__budget"))
    })
  }

  /** Shared water-fill engine: `budgetOf` builds the ONE-row budget
    * relation (column `__budget`, DECIMAL(38,0)) from the normalized
    * per-source table — either a literal (Long overload) or an in-plan
    * aggregate (fraction overload). */
  private def waterFillImpl(counts: DataFrame, sourceCol: String,
      availCol: String, weightCol: String,
      budgetOf: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    // the normalized grid feeds the ratio window, the weight total, the
    // budget, the cut and the remainder — SIX+ references; when `counts`
    // is an unpersisted corpus aggregation (the q152 shape) each one
    // would re-aggregate the corpus (the q184 double-scan bug class,
    // caught by CatalogPlanSweepSpec's double-scan detector). The grid is
    // bounded (one row per source) — persist it, release via the
    // bounded result (tier 1, operators/Caching.scala).
    val d = counts.select(col(sourceCol).as("source"),
      col(availCol).cast(dec).as("__a"), col(weightCol).cast(dec).as("__w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ratio order (ties by source): doubles only ORDER the bounded table;
    // every capping decision below is exact decimal arithmetic
    val byRatio = Seq(
      col("__a").cast("double") / col("__w").cast("double"), col("source"))
    val ord = Window.orderBy(byRatio: _*)
    val prefix = ord.rowsBetween(Window.unboundedPreceding, -1)
    val zero = lit(0).cast(dec)
    val flagged = d
      .withColumn("__rk", row_number().over(ord))
      .withColumn("__pa", coalesce(sum("__a").over(prefix), zero))
      .withColumn("__pw", coalesce(sum("__w").over(prefix), zero))
      .crossJoin(broadcast(d.agg(sum("__w").cast(dec).as("__tw"))))
      .crossJoin(broadcast(budgetOf(d)))
      .withColumn("__wouldCap",
        col("__a") * (col("__tw") - col("__pw")) <=
          (col("__budget") - col("__pa")) * col("__w"))
    val cut = flagged.agg(
      min(when(!col("__wouldCap"), col("__rk"))).as("__cut"))
    val labeled = flagged.crossJoin(broadcast(cut))
      .withColumn("capped",
        col("__cut").isNull || col("__rk") < col("__cut"))
    val rem = labeled.agg(
      (max(col("__budget")) -
        coalesce(sum(when(col("capped"), col("__a"))), zero)).as("__bs"),
      coalesce(sum(when(!col("capped"), col("__w"))), zero).as("__ws"))
    val out = labeled.crossJoin(broadcast(rem))
      .withColumn("allocated",
        when(col("capped"), col("__a"))
          .otherwise(decFloorDiv(col("__bs") * col("__w"), col("__ws"))))
      .select(col("source"),
        col("__a").cast("long").as("available"),
        col("__w").cast("long").as("weight"),
        col("capped"),
        col("allocated").cast("long").as("allocated"))
    Caching.materializeAndRelease(out, d)
  }

  /** Neyman (optimal) allocation for stratified sampling: split a row
    * budget across strata proportionally to `N_h * sigma_h` — the
    * allocation minimizing the variance of the stratified mean estimator
    * (Neyman 1934). The textbook identity
    * `N_h * sigma_h = sqrt(N_h * sum(x^2) - sum(x)^2)` makes the weight
    * an exact integer square root: both moment sums are computed in
    * DECIMAL(38,0) (never a float sum), the single sqrt of that exact
    * integer is IEEE-correctly-rounded in every engine, and the weight is
    * quantized at 1e6 so the apportionment below is pure integer
    * arithmetic. Seats are dealt by largest-remainder (Hamilton): exact
    * DECIMAL floor quotas `budget*wq div W`, the leftover seats to the
    * largest remainders (ties → stratum name), and each stratum finally
    * clamped at its population (a clamp frees no re-dealt seats — the
    * unallocatable surplus is visible as `sum(alloc) < budget`, which a
    * caller re-runs with the shrunk budget if it wants exhaustion). When
    * every stratum is constant (all SS = 0) the weights degrade to plain
    * proportional-to-size allocation.
    *
    * Output: (stratum, n_rows, weight_q, alloc).
    *
    * Scale: ONE map-side-combined moment aggregation over the data; every
    * window/cross below it runs on the BOUNDED per-stratum table (the
    * waterFill shape). */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val v = col(valueCol).cast(dec)
    val s = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        sum(v).as("__s1"), sum(v * v).as("__s2"))
      .withColumn("__ss",
        col("n_rows").cast(dec) * col("__s2") - col("__s1") * col("__s1"))
      .withColumn("__wq",
        floor(sqrt(col("__ss").cast("double")) * 1e6 + 0.5).cast(dec))
    val tot = s.agg(sum("__wq").as("__W"), sum("n_rows").cast(dec).as("__N"))
    // all-constant corpus: SS = 0 everywhere -> W = 0 -> proportional
    val w = s.crossJoin(broadcast(tot))
      .withColumn("__wq",
        when(col("__W") > 0, col("__wq")).otherwise(col("n_rows").cast(dec)))
      .withColumn("__W",
        when(col("__W") > 0, col("__W")).otherwise(col("__N")))
    val b = lit(budget).cast(dec)
    val quota = w
      .withColumn("__p", b * col("__wq"))
      .withColumn("__base", decFloorDiv(col("__p"), col("__W")))
      .withColumn("__rem", pmod(col("__p"), col("__W")))
    val leftover = quota.agg((b - sum(col("__base"))).as("__lo"))
    quota.crossJoin(broadcast(leftover))
      // bounded-table window: one row per stratum, never data rows
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__rem").desc, col("stratum"))))
      .withColumn("__asg",
        col("__base") + when(col("__rk") <= col("__lo"), 1L).otherwise(0L))
      .select(col("stratum"), col("n_rows"),
        col("__wq").cast("long").as("weight_q"),
        least(col("__asg"), col("n_rows").cast(dec))
          .cast("long").as("alloc"))
  }

  /** Deterministic fixed-size per-group sample: exactly `min(n, |group|)`
    * rows per group, chosen by ranking on `md5(idCol)` (ties — md5
    * collisions — broken by the id itself). Unlike rate-based
    * [[hashSplit]]-style sampling, the output SIZE is exact per group;
    * unlike `DataFrame.sample`, the choice is a pure function of the ids
    * — stable across runs, retries, partitioning, and engines (md5 is
    * standardized, so a SQL oracle replays the selection byte-for-byte).
    *
    * Scale: the per-group rank cut plans as WindowGroupLimit below the
    * shuffle — each map task forwards at most `n` rows per group it
    * sees, so a dominant group never floods one reducer. */
  def hashSampleN(df: DataFrame, groupCol: String, idCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= n).drop("__r")
  }

  /** Global top-`k` by score under a per-group cap — "take the k best
    * documents overall, but at most `perGroupCap` from any one source":
    * the diversity-quota selection between plain global top-k (one source
    * can sweep it) and per-group quotas (which over-admit weak groups).
    *
    * Scale: stage 1 is a keyed row_number cut at the cap — Spark pushes
    * it below the shuffle as WindowGroupLimit, so each map task forwards
    * at most `perGroupCap` rows per group it sees; stage 2 is a
    * TakeOrdered over the <= cap x groups survivors, never a global
    * sort. Fully order-determined by (score DESC, tieBreak). */
  def cappedTopK(df: DataFrame, scoreCol: String, groupCol: String,
      tieBreak: String, k: Int, perGroupCap: Int): DataFrame = {
    require(k > 0 && perGroupCap > 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol).desc, col(tieBreak))
    df.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= perGroupCap).drop("__r")
      .orderBy(col(scoreCol).desc, col(tieBreak))
      .limit(k)
  }

  /** Down-sample `df` to the target domain mixture: [[mixingRates]] joined
    * back (broadcast — one row per stratum) and applied as the same
    * deterministic hash filter as [[stratifiedSample]]. Strata without a
    * weight are dropped. */
  def mixToWeights(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      weights: Map[String, Double],
      salt: String = "graft"): DataFrame = {
    val rates = mixingRates(df, strataCol, weights).drop("n")
    df.join(broadcast(rates), Seq(strataCol))
      .filter(uniformHash(col(keyCol), salt) < col("rate"))
      .drop("rate")
  }

  /** Deterministic per-stratum quota sample: EXACTLY `min(n, |stratum|)`
    * rows per stratum — the rows with the smallest hash uniforms (ties by
    * key), so membership is a pure function of the data, stable across
    * runs, retries and cluster sizes (the fixed-size counterpart of
    * [[stratifiedSample]]'s fixed-rate Bernoulli).
    *
    * Two-phase top-n so no single reducer ever sorts a whole stratum: each
    * (stratum, shard) slice keeps its local n smallest (64 shards — any
    * reducer sees one slice), then the global window ranks only the
    * ≤ 64·n survivors per stratum. Identical output to a single global
    * window (a global top-n member is a top-n member of its shard). */
  def quotaSample(
      df: DataFrame, strataCol: String, keyCol: String, n: Int,
      salt: String = "graft"): DataFrame = {
    require(n > 0, s"bad quota: $n")
    import org.apache.spark.sql.expressions.Window
    val shards = 64
    // hash uniform materialized ONCE as its own projection: Catalyst does
    // not share the concat+FNV+scale tree between the two window sort
    // keys, so inlining it hashes every row twice; the projected column
    // is the identical expression, so the values are the same
    val Seq(u, r1, r2) = ScratchColumns.fresh(df, "__u", "__r1", "__r2")
    val w1 = Window
      .partitionBy(col(strataCol),
        pmod(xxhash64(col(keyCol)), lit(shards)))
      .orderBy(col(u).asc, col(keyCol).asc)
    val w2 = Window.partitionBy(col(strataCol))
      .orderBy(col(u).asc, col(keyCol).asc)
    df.withColumn(u, uniformHash(col(keyCol), salt))
      .withColumn(r1, row_number().over(w1))
      .filter(col(r1) <= n)
      .withColumn(r2, row_number().over(w2))
      .filter(col(r2) <= n)
      .drop(r1, r2, u)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    * exponential race): each row draws a deterministic exponential clock
    * ln(1/u)/w from its own hash uniform — heavier rows draw faster
    * clocks — and the k smallest clocks win, which is exactly sampling k
    * rows without replacement with probability proportional to weight.
    *
    * Exactness: u is the house 53-bit hash uniform (+0.5 ulp so it is
    * never 0); ln(1/u) is quantized to 1e-6 integer units (the q102
    * quantized-ln precedent — a libm ulp difference cannot flip the
    * floor at this granularity in practice) and the clock is the integer
    * division lnq * 1e6 div w_q, ties broken by key — bit-stable across
    * engines and partitionings. Rows with non-positive quantized weight
    * are excluded (they have probability 0).
    *
    * Scale: pure per-row scoring (no shuffle) + one distributed
    * TakeOrdered of k rows — never a global sort materialization.
    * Output: the input rows + (w_q, score_q), the k winners. */
  def weightedSample(
      df: DataFrame, keyCol: String, weightCol: String, k: Int,
      salt: String = "graft"): DataFrame = {
    require(k > 0, s"bad k: $k")
    val bits = shiftrightunsigned(GraftFunctions.fnv1a64(
      concat(col(keyCol).cast("string"), lit(":" + salt))), 11)
    val u = (bits.cast("double") + lit(0.5)) / lit(9007199254740992.0)
    df.withColumn("w_q", floor(col(weightCol) * 1e6 + 0.5).cast("long"))
      .filter(col("w_q") > 0)
      .withColumn("__lnq", floor(log(lit(1.0) / u) * 1e6 + 0.5).cast("long"))
      .withColumn("score_q", expr("__lnq * 1000000 div w_q"))
      .drop("__lnq")
      .orderBy(col("score_q").asc, col(keyCol).asc)
      .limit(k)
  }

  /** Deterministic named dataset split (train/val/test): each row is
    * assigned the first split whose cumulative fraction bound exceeds the
    * row's hash uniform — a pure per-row function of the key, so the split
    * is stable across runs, retries, cluster sizes AND incremental corpus
    * growth (a row's assignment never changes when other rows arrive — the
    * property `randomSplit` lacks that makes it unusable for a 100 TB
    * corpus that is continuously re-ingested). No shuffle, no state.
    *
    * Output: `df` plus a `split` column holding the split name. */
  def hashSplit(
      df: DataFrame,
      keyCol: String,
      splits: Seq[(String, Double)],
      salt: String = "graft"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0.0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must be positive and sum to 1: $splits")
    // hash uniform materialized ONCE: inlined in the branch chain, the
    // concat+FNV+scale tree would be evaluated once per split bound; as
    // one projected column it is one hash per row, identical values
    val Seq(uName) = ScratchColumns.fresh(df, "__u")
    val u = col(uName)
    val assigned =
      if (splits.size == 1) lit(splits.head._1)
      else {
        // cumulative bounds from left-to-right double addition — the oracle
        // must restate these EXACT doubles (not re-derive them from the
        // fractions) for bit-identical assignment
        val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
        splits.zip(cums).dropRight(1).tail.foldLeft(
          when(u < lit(cums.head), lit(splits.head._1))) {
          case (acc, ((name, _), cum)) => acc.when(u < lit(cum), lit(name))
        }.otherwise(lit(splits.last._1))
      }
    df.withColumn(uName, uniformHash(col(keyCol), salt))
      .withColumn("split", assigned)
      .drop(uName)
  }

  /** Cumulative split bounds as exact round-trip decimal strings — for
    * composing an external (SQL) replay of [[hashSplit]]. */
  def hashSplitBounds(splits: Seq[(String, Double)]): Seq[(String, String)] =
    splits.map(_._1).zip(
      splits.map(_._2).scanLeft(0.0)(_ + _).tail.map(_.toString))

  /** Dedup-aware (leak-safe) dataset split: [[hashSplit]] keyed by the
    * near-duplicate CLUSTER instead of the row, so no two near-duplicates
    * ever land in different splits — the split-contamination guard
    * benchmark papers mandate (a test doc whose near-copy trains is a
    * leaked answer). `pairs` is any near-dup pair table (id_a, id_b) —
    * MinHash, SimHash, embedding, ...; docs in no pair are their own
    * singleton cluster and split independently.
    *
    * Plan: pointer-jumping connected components over the pairs
    * ([[DedupOps.clusterDuplicates]] — rounds bounded by component
    * diameter), one left join of docs to cluster ids, then the stateless
    * per-row hash assignment on `coalesce(cluster_id, id)`. Output: docs
    * + (cluster_key, split). */
  def leakSafeSplit(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)], salt: String = "graft"): DataFrame = {
    val cl = graft.operators.DedupOps.clusterDuplicates(pairs)
      .select(col("id").as(idCol), col("cluster_id"))
    val keyed = docs.join(cl, Seq(idCol), "left")
      .withColumn("cluster_key", coalesce(col("cluster_id"), col(idCol)))
      .drop("cluster_id")
    hashSplit(keyed, "cluster_key", splits, salt)
  }

  /** Temperature-scaled source weights (the multinomial mixture of the
    * XLM-R / mT5 / LLaMA data recipes): w_s ∝ n_s^alpha, so alpha = 1
    * reproduces natural proportions and alpha → 0 flattens toward uniform,
    * up-weighting low-resource domains. The per-stratum pow is quantized to
    * integer 1e-6 units BEFORE the normalizing sum (the BM25/DSIR
    * technique), so the sum is order-free BIGINT arithmetic and every
    * downstream double is a pure function of exact integers — an external
    * replay is bit-identical, ulp differences in libm pow never surface.
    *
    * Output: (stratum, n, weight). One aggregation; the normalizer is an
    * in-plan 1-row cross join (no driver collect). */
  def temperatureWeights(
      df: DataFrame, strataCol: String, alpha: Double): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .withColumn("__pwq",
        floor(pow(col("n").cast("double"), lit(alpha)) * lit(1e6) + lit(0.5))
          .cast("long"))
    val tot = counts.agg(sum(col("__pwq")).as("__tot"))
    counts.crossJoin(broadcast(tot))
      .select(col(strataCol), col("n"),
        (col("__pwq").cast("double") / col("__tot").cast("double"))
          .as("weight"))
  }

  /** Down-sample to a temperature-scaled mixture of `targetRows` expected
    * total rows: rate_s = min(1, w_s · target / n_s) with w_s from
    * [[temperatureWeights]], applied as the deterministic hash filter of
    * [[stratifiedSample]]. The rate table is one row per stratum
    * (broadcast); the corpus side is filter-only — no shuffle at any
    * scale. */
  def temperatureMix(
      df: DataFrame, strataCol: String, keyCol: String, alpha: Double,
      targetRows: Long, salt: String = "graft"): DataFrame = {
    val rates = temperatureWeights(df, strataCol, alpha)
      .select(col(strataCol),
        least(lit(1.0),
          col("weight") * lit(targetRows.toDouble) / col("n").cast("double"))
          .as("rate"))
    df.join(broadcast(rates), Seq(strataCol))
      .filter(uniformHash(col(keyCol), salt) < col("rate"))
      .drop("rate")
  }

  /** Per-stratum epoch plan for a fixed output budget: epochs_s =
    * (w_s · targetRows) / c_s — unlike [[mixingRates]] (which only
    * DOWN-samples to the largest achievable size), a stratum whose target
    * exceeds its size REPEATS (epochs > 1), the LLaMA/DoReMi-style
    * data-mixture shape where high-weight domains run multiple epochs.
    * Strata without a weight get no row (dropped downstream). Output:
    * (stratum, n, epochs). */
  def epochMixingPlan(
      df: DataFrame, strataCol: String,
      weights: Map[String, Double], targetRows: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF("__stratum", "__w")
    df.groupBy(col(strataCol).as("__stratum"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(wdf), "__stratum")
      .select(col("__stratum").as(strataCol), col("n"),
        (col("__w") * lit(targetRows.toDouble) / col("n").cast("double"))
          .as("epochs"))
  }

  /** Materialize an [[epochMixingPlan]]: each row of stratum s appears with
    * `epoch` = 0..floor(epochs_s)-1 unconditionally, plus one fractional
    * epoch kept iff the row's hash uniform < frac(epochs_s) — so the
    * expected output per stratum is w_s · targetRows, every repetition is
    * tagged with its epoch index, and membership is a pure function of the
    * data (stable across runs/retries/cluster sizes). The per-row explode
    * is ceil(epochs) copies — narrow, no shuffle beyond the count
    * aggregation; the plan table (one row per stratum) broadcasts. */
  def materializeEpochs(
      df: DataFrame, strataCol: String, keyCol: String,
      weights: Map[String, Double], targetRows: Long,
      salt: String = "graft"): DataFrame = {
    val plan = epochMixingPlan(df, strataCol, weights, targetRows)
      .filter(col("epochs") > 0).select(col(strataCol), col("epochs").as("__ep"))
    val frac = col("__ep") - floor(col("__ep"))
    df.join(broadcast(plan), Seq(strataCol))
      .withColumn("epoch",
        explode(sequence(lit(0), ceil(col("__ep")).cast("int") - lit(1))))
      .filter(col("epoch") < floor(col("__ep")) ||
        (col("epoch") === floor(col("__ep")) &&
          uniformHash(col(keyCol), salt) < frac))
      .withColumn("epoch", col("epoch").cast("long"))
      .drop("__ep")
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every document by how target-like its hashed
    * n-gram profile is, then Gumbel-top-k resample the raw pool.
    *
    *  - Features: lowercase alphanumeric unigrams + space-joined bigrams,
    *    hashed into `buckets` buckets (fnv1a64, pmod on the signed value).
    *  - Two bag-of-words multinomials with add-`alpha` smoothing: the
    *    target rows (`isTarget` true) vs the whole pool. Per-doc importance
    *    log-weight = Σ_feature ln(p_target(b)/p_raw(b)).
    *  - Resampling: Gumbel noise g = -ln(-ln(u)) from the deterministic
    *    53-bit hash uniform of (id, `salt`) — u = (bits + 0.5)/2^53, exact
    *    and strictly inside (0,1) — added to the log-weight; the top `k`
    *    non-target rows by the noised weight are `selected`.
    *
    * Every per-(doc,bucket) contribution AND the Gumbel noise are quantized
    * to integer 1e-7 units before summation (floor(x*1e7 + 0.5)), the
    * [[graft.operators.TextOps.bm25Scores]] technique: aggregation is
    * order-free BIGINT arithmetic and the 1-ulp JVM-vs-C libm `ln`
    * divergence vanishes below the quantum, so a SQL oracle replays the
    * selection bit-for-bit (HashOracleSql.dsirSql).
    *
    * Output: one row per input doc — (id, is_target, dsir_q, selected)
    * with dsir_q the quantized log-weight (0 for feature-less docs).
    *
    * Plan shape at 100 TB: one [[dsirIndex]] aggregation pass (shuffle
    * bounded by `buckets` rows per map task), one zero-shuffle
    * [[dsirScoreAgainst]] scoring pass; the top-k is a distributed
    * TakeOrdered on narrow (key, id) pairs, never a global single-partition
    * window; the winner set (k ids) broadcasts back. */
  /** The DSIR bucket-multinomial index: one distributed pass over the pool
    * producing (b, tn, rn, lr) for every OCCUPIED bucket — tn/rn the
    * target/pool feature counts, lr the add-`alpha` smoothed importance
    * log-ratio ln(p_target(b)/p_raw(b)). `buckets` rows at most (the paper
    * uses 10k) — persist it as parquet and probe many batches/streams with
    * [[dsirScoreAgainst]]. The groupBy(b) shuffle carries ≤`buckets` rows
    * per map task after partial aggregation, regardless of corpus size. */
  def dsirIndex(
      docs: DataFrame, idCol: String, textCol: String, isTarget: Column,
      buckets: Int = 4096, alpha: Double = 1.0): DataFrame = {
    require(buckets > 0, s"bad dsir buckets: $buckets")
    val base = Parallelism.fanOut(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        isTarget.as("is_target")), col(idCol))
    val toks = base.select(col("is_target"), TextOps.alnumWords(col("text")).as("ts"))
    // unigrams ++ bigrams; zip_with pads the shorter side with null, so the
    // dangling last pair concat()s to null and the filter drops it
    val feats = toks.select(col("is_target"),
      explode(filter(
        concat(col("ts"),
          zip_with(col("ts"), slice(col("ts"), lit(2), size(col("ts"))),
            (a, b) => concat(a, lit(" "), b))),
        f => f.isNotNull)).as("feat"))
    val bstats = feats
      .select(col("is_target"),
        pmod(GraftFunctions.fnv1a64(col("feat")), lit(buckets.toLong)).as("b"))
      .groupBy("b").agg(
        sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("tn"),
        count(lit(1)).as("rn"))
    val totals = bstats.agg(sum("tn").as("tt"), sum("rn").as("rt"))
    // operation ORDER mirrors HashOracleSql.dsirSql token for token
    val ab = alpha * buckets
    val lr = log((col("tn").cast("double") + lit(alpha)) /
        (col("tt").cast("double") + lit(ab))) -
      log((col("rn").cast("double") + lit(alpha)) /
        (col("rt").cast("double") + lit(ab)))
    bstats.crossJoin(broadcast(totals))
      .select(col("b"), col("tn"), col("rn"), lr.as("lr"))
  }

  /** Score rows against a prebuilt [[dsirIndex]]: appends `dsir_q`, the
    * per-row quantized DSIR log-weight (Σ_feature floor(n·lr·1e7 + 0.5),
    * integer 1e-7 units; 0 for feature-less rows).
    *
    * The index collapses to a dense `buckets`-slot broadcast array
    * (buckets the pool never saw get the n=0 smoothed ratio), and the scan
    * is ONE compiled per-row pass — tokenize, hash, local bucket counts,
    * integer sum — with zero shuffle, so it runs unchanged on a STREAM
    * (stateless, no watermark) and never moves the 100 TB side. The
    * arithmetic is identical to the declarative build (same fnv1a64/pmod,
    * same double order, same floor), so scores replay bit-for-bit in the
    * q65 oracle. */
  def dsirScoreAgainst(
      docs: DataFrame, index: DataFrame, textCol: String,
      buckets: Int, alpha: Double = 1.0): DataFrame = {
    val rows = index.select(col("b").cast("int"), col("tn").cast("long"),
      col("rn").cast("long"), col("lr")).collect()
    val ab = alpha * buckets
    val tt = rows.map(_.getLong(1)).sum
    val rt = rows.map(_.getLong(2)).sum
    val lr0 = math.log((0.0 + alpha) / (tt.toDouble + ab)) -
      math.log((0.0 + alpha) / (rt.toDouble + ab))
    val dense = Array.fill(buckets)(lr0)
    rows.foreach(r => dense(r.getInt(0)) = r.getDouble(3))
    val lrB = docs.sparkSession.sparkContext.broadcast(dense)
    val m = buckets.toLong
    val scoreU = udf { text: String =>
      if (text == null) 0L
      else {
        val ts = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        val counts = new scala.collection.mutable.LongMap[Long]()
        def add(f: String): Unit = {
          val h = DedupOps.fnv1a64(f)
          val b = ((h % m) + m) % m
          counts(b) = counts.getOrElse(b, 0L) + 1L
        }
        ts.foreach(add)
        var i = 0
        while (i < ts.length - 1) { add(ts(i) + " " + ts(i + 1)); i += 1 }
        var s = 0L
        counts.foreach { case (b, n) =>
          s += math.floor(n.toDouble * lrB.value(b.toInt) * 1e7 + 0.5).toLong
        }
        s
      }
    }
    docs.withColumn("dsir_q", scoreU(col(textCol)))
  }

  def dsirWeights(
      docs: DataFrame, idCol: String, textCol: String, isTarget: Column,
      k: Int, buckets: Int = 4096, alpha: Double = 1.0,
      salt: String = "dsir"): DataFrame = {
    require(buckets > 0 && k > 0, s"bad dsir params: buckets=$buckets k=$k")
    val base = Parallelism.fanOut(
      docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"),
        isTarget.as("is_target")), col(idCol))

    val index = dsirIndex(docs, idCol, textCol, isTarget, buckets, alpha)
    val perDoc = dsirScoreAgainst(base, index, "text", buckets, alpha)
      .select(col("doc_id"), col("is_target"), col("dsir_q"))

    // Gumbel in the same 1e-7 units as dsir_q -> the noised key is BIGINT
    val bits = shiftrightunsigned(GraftFunctions.fnv1a64(
      concat(col("doc_id").cast("string"), lit(":" + salt))), 11)
    val u = (bits.cast("double") + lit(0.5)) / lit(9007199254740992.0) // 2^53
    val gq = floor(-log(-log(u)) * lit(1e7) + lit(0.5)).cast("long")

    val winners = perDoc.filter(!col("is_target"))
      .select(col("doc_id"), (col("dsir_q") + gq).as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), lit(true).as("sel"))
    perDoc.join(broadcast(winners), Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_target"), col("dsir_q"),
        coalesce(col("sel"), lit(false)).as("selected"))
  }

  /** Token-budget selection: take documents in (score DESC, id ASC) order
    * until the cumulative token count reaches `budget` — the
    * budget-constrained greedy that turns a scored corpus into "the best
    * B tokens" (every pretraining run is sized in tokens, not documents).
    *
    * The global ordered prefix sum NEVER runs through a single-partition
    * window (the scale-killer the k-core fix removed): documents are
    * range-partitioned on the selection order, each partition computes its
    * LOCAL cumulative sum in parallel, per-partition totals (one row per
    * partition, bounded) are offset-summed and broadcast back, and the
    * global cumulative count is offset + local. Same two-phase recipe as
    * [[TextOps.zipfFit]]'s distributed rank.
    *
    * Output: (id, score, tokens, cum_tokens, selected) for every input
    * row; selected = cum_tokens <= budget (a doc that would cross the
    * budget line is NOT taken — deterministic, engine-portable).
    */
  def budgetSelect(
      docs: DataFrame, idCol: String, scoreCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = docs
      .select(col(idCol), col(scoreCol), col(tokensCol).cast("long")
        .as("__tok"))
      .repartitionByRange(col(scoreCol).desc, col(idCol))
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val localW = Window.partitionBy("__pid")
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one row per range partition: the single-partition window is over a
    // partition-count-sized frame, never the data
    val pidW = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sized.groupBy("__pid")
      .agg(sum(col("__tok")).as("__ptot"))
      .withColumn("__off", coalesce(sum("__ptot").over(pidW), lit(0L)))
      .select("__pid", "__off")
    sized.join(broadcast(offsets), "__pid")
      .withColumn("cum_tokens", sum(col("__tok")).over(localW) + col("__off"))
      .select(col(idCol), col(scoreCol), col("__tok").as("tokens"),
        col("cum_tokens"),
        (col("cum_tokens") <= budget).as("selected"))
  }

  /** Per-stratum quality calibration + global top-fraction selection.
    *
    * Quality scores are not comparable across heterogeneous sources (a
    * median web page and a median reference article score very
    * differently), so mixing corpora by a GLOBAL score threshold starves
    * whole domains. The standard fix is rank calibration: replace each
    * score by its percentile WITHIN its stratum, then select the top
    * `keepFraction` of every stratum — domain-balanced by construction.
    *
    * calibrated = (r - 1) / n with r the dense (score DESC, id ASC)
    * row_number inside the stratum and n the stratum size — int/int in
    * IEEE double, bit-exact in any engine; selected = calibrated <
    * keepFraction (so every stratum keeps ceil(n * f) of its rows).
    *
    * One keyed exchange (the stratum window); no global sort, no collect.
    */
  def calibratedSelect(
      docs: DataFrame, strataCol: String, idCol: String, scoreCol: String,
      keepFraction: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val n = Window.partitionBy(col(strataCol))
    docs
      .select(col(strataCol), col(idCol), col(scoreCol))
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .select(col(strataCol), col(idCol), col(scoreCol),
        ((col("__r") - 1).cast("double") / col("__n").cast("double"))
          .as("calibrated"),
        ((col("__r") - 1).cast("double") <
          col("__n").cast("double") * keepFraction).as("selected"))
  }

  /** Temporal train/val/test split audit — the time-leakage check every
    * forecasting/eval split needs: with splits declared in TEMPORAL
    * `order` (earliest first), every consecutive pair reports whether
    * the boundary is clean (`from`'s last timestamp strictly before
    * `to`'s first), how far the ranges overlap, and how many `to` rows
    * sit at-or-before `from`'s last timestamp (the leaked examples a
    * model could memorize). A same-instant tie counts as a leak — two
    * events at one millisecond are not temporally separated.
    *
    * Fails loudly when the data's split labels differ from `order` in
    * either direction (a typo'd label would otherwise silently audit
    * nothing).
    *
    * Output per consecutive pair: (from_split, to_split, n_from, n_to,
    * from_max_ms, to_min_ms, boundary_ok, overlap_ms, n_leaked).
    *
    * Scale: one map-side-combined per-split summary (bounded |splits|
    * collect), then ONE conditional-aggregation pass counts every
    * pair's leaks against the broadcast-literal thresholds; the result
    * is assembled driver-side from those two bounded aggregates. */
  def temporalSplitAudit(df: DataFrame, splitCol: String, tsCol: String,
      order: Seq[String]): DataFrame = {
    require(order.size >= 2,
      s"temporalSplitAudit needs >= 2 ordered splits, got $order")
    require(order.distinct.size == order.size,
      s"duplicate split labels in order: $order")
    val spark = df.sparkSession
    import spark.implicits._
    // splitCol is cast to string up front (int-labeled splits audit
    // against string `order` labels instead of ClassCastException-ing
    // at the collect), and an all-NULL-timestamp split fails with the
    // operator's own message, not an unboxing NPE
    val base = df.select(col(splitCol).cast("string").as("__s"),
      unix_millis(col(tsCol)).as("__ms"))
    val sums = base.groupBy("__s")
      .agg(count(lit(1)).as("n"), min("__ms").as("mn"),
        max("__ms").as("mx"))
      .collect()
      .map { r =>
        val s = r.getString(0)
        require(!r.isNullAt(2) && !r.isNullAt(3),
          s"split '$s' has no non-null $tsCol values — cannot audit " +
            "temporal boundaries against it")
        s -> (r.getLong(1), r.getLong(2), r.getLong(3))
      }.toMap
    require(sums.keySet == order.toSet,
      s"split labels in the data (${sums.keySet.toSeq.sorted.mkString(", ")}) " +
        s"must match the declared order (${order.mkString(", ")})")
    val pairs = order.zip(order.tail)
    val leakCounters = pairs.zipWithIndex.map { case ((from, to), i) =>
      sum(when(col("__s") === to && col("__ms") <= sums(from)._3, 1L)
        .otherwise(0L)).as(s"__l$i")
    }
    val leaks = base.agg(leakCounters.head, leakCounters.tail: _*).head()
    val rows = pairs.zipWithIndex.map { case ((from, to), i) =>
      val (nf, _, fmx) = sums(from)
      val (nt, tmn, _) = sums(to)
      (from, to, nf, nt, fmx, tmn, fmx < tmn,
        math.max(0L, fmx - tmn), leaks.getLong(i))
    }
    rows.toDF("from_split", "to_split", "n_from", "n_to", "from_max_ms",
      "to_min_ms", "boundary_ok", "overlap_ms", "n_leaked")
  }
}
