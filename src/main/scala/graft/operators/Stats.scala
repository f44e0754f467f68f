package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact numeric statistics over quantized columns.
  *
  * Pearson correlation the engine-portable way: quantize each column to
  * longs (caller-chosen scale), subtract the truncating-division integer
  * mean, and aggregate the centered cross/self products as exact long
  * sums. The correlation then reduces to `sxy / (sqrt(sxx) * sqrt(syy))`
  * over integers below 2^53 — every step (long→double cast, sqrt,
  * multiply, divide) is correctly-rounded IEEE, so two engines computing
  * from the same sums produce the SAME double, bit for bit. The usual
  * streaming-variance float path cannot promise that (its partial sums
  * are order-sensitive).
  *
  * Scale shape: one pass for the means (k sums), one pass for all
  * k(k+1)/2 centered products (single aggregation, map-side combined);
  * the only collects are the two bounded k- and k^2-cell rows. Callers
  * pick scales so that n * (column spread * scale)^2 stays below 2^53. */
object Stats {

  /** Pairwise Pearson correlations of `cols` quantized by `scales`:
    * one row per unordered pair (col_a < col_b in list order) —
    * (col_a, col_b, n, sxy, sxx, syy, corr). */
  def correlationMatrix(
      df: DataFrame, cols: Seq[String], scales: Seq[Long]): DataFrame = {
    require(cols.length == scales.length && cols.length >= 2)
    val spark = df.sparkSession
    val k = cols.length
    val q = df.select(cols.zip(scales).map { case (c, s) =>
      floor(col(c) * s + 0.5).cast("long").as(c)
    }: _*)

    val meanRow = q.agg(count(lit(1)).as("n"),
        cols.map(c => sum(col(c)).as(s"s_$c")): _*)
      .collect().head
    val n = meanRow.getLong(0)
    require(n > 0, "correlationMatrix over an empty input")
    val means = cols.indices.map(i => meanRow.getLong(i + 1) / n)

    val centered = q.select(cols.zipWithIndex.map { case (c, i) =>
      (col(c) - lit(means(i))).as(c)
    }: _*)
    val prodExprs = for {
      i <- 0 until k; j <- i until k
    } yield sum(col(cols(i)) * col(cols(j))).as(s"p_${i}_$j")
    val sums = centered.agg(prodExprs.head, prodExprs.tail: _*).collect().head
    def s(i: Int, j: Int): Long = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      val idx = (0 until k).take(a).map(x => k - x).sum + (b - a)
      sums.getLong(idx)
    }

    val rows = for {
      i <- 0 until k; j <- (i + 1) until k
    } yield {
      val sxy = s(i, j); val sxx = s(i, i); val syy = s(j, j)
      val corr =
        if (sxx == 0L || syy == 0L) 0.0
        else sxy.toDouble / (math.sqrt(sxx.toDouble) * math.sqrt(syy.toDouble))
      Row(cols(i), cols(j), n, sxy, sxx, syy, corr)
    }
    val schema = StructType(Seq(
      StructField("col_a", StringType, nullable = false),
      StructField("col_b", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("sxy", LongType, nullable = false),
      StructField("sxx", LongType, nullable = false),
      StructField("syy", LongType, nullable = false),
      StructField("corr", DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Per-group k-sigma outlier report with NO floating point: values
    * quantize to cents and the z-test runs as the cross-multiplied
    * integer inequality. From z^2 = (c - S/n)^2 / ((nQ - S^2)/n^2)
    * = (cn - S)^2 / (nQ - S^2), a row is an outlier at threshold
    * k = kPermille/1000 sigma iff
    *   (cn - S)^2 * 10^6  >  kPermille^2 * (nQ - S^2),
    * evaluated in 128-bit exact arithmetic (Spark DECIMAL(38,0) /
    * DuckDB HUGEINT) end to end — the moments s and q aggregate in
    * DECIMAL too, never LONG. Exactness envelope: the largest operand is
    * ~10^6 * (n * c_max)^2, within both engines' 38-digit cap while
    * n * c_max < ~10^16 (e.g. 10^11 rows per group at $1000-magnitude
    * cent values); beyond it DuckDB errors loudly and Spark nulls the
    * comparison — never a silent wrap, unlike LONG. The usual stddev()
    * route cannot promise engine agreement at any size
    * (order-sensitive float partials).
    *
    * Scale: one moments aggregation (n, S, Q per group — constant state,
    * map-side combined) joined back to the rows (AQE broadcasts the
    * group-moments side); one flag-and-count aggregation. Output:
    * (groupCol, n_total, n_outliers). */
  /** Per-group exact moments of the cent-quantized value column:
    * (groupCol, n, s, q) — constant mergeable state, map-side combined.
    * `s` and `q` aggregate in DECIMAL(38,0) (DuckDB HUGEINT): summing
    * `c*c` in LONG would silently wrap near 1e9 rows per group for cent
    * values around 1e5, far below the trillion-row envelope the 128-bit
    * z-test claims. The trainable "index" for [[zScoreOutliers]] and the
    * streaming probe
    * [[graft.streaming.EventStreams.streamingOutlierFlags]]. */
  def momentsTable(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    df.select(col(groupCol),
        floor(col(valueCol) * 100 + 0.5).cast("long").as("c"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast(dec)).as("s"),
        sum(col("c").cast(dec) * col("c")).as("q"))
  }

  /** The exact integer z-test as a Column over (c, n, s, q) columns.
    * Every term lifts to DECIMAL(38,0) BEFORE multiplying — `c * n` in
    * LONG would itself wrap for large groups of large values. */
  def outlierFlag(kPermille: Long): Column = {
    val dec = DecimalType(38, 0)
    val d = col("c").cast(dec) * col("n") - col("s").cast(dec)
    d * d * lit(1000000L) >
      lit(kPermille * kPermille) *
        (col("n").cast(dec) * col("q") - col("s").cast(dec) * col("s"))
  }

  def zScoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      kPermille: Long = 3000L): DataFrame = {
    val base = df.select(col(groupCol),
      floor(col(valueCol) * 100 + 0.5).cast("long").as("c"))
    base.join(momentsTable(df, groupCol, valueCol), groupCol)
      .withColumn("is_out", outlierFlag(kPermille))
      .groupBy(groupCol)
      .agg(max("n").as("n_total"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Per-group least-squares linear trend of a LONG y over a LONG x —
    * "is this source/event type growing or shrinking" drift detection
    * over (day, daily-count) style points, in closed form:
    * `slope = (n*Σxy − Σx*Σy) / (n*Σx² − (Σx)²)`,
    * `intercept = (Σy − slope*Σx) / n`.
    * All five sums aggregate in DECIMAL(38,0) (epoch-day x ~2e4 times
    * count y ~1e9 per row wraps LONG near 1e6 points), the numerator and
    * denominator are computed EXACTLY in decimal, and slope/intercept
    * are one fixed double chain each — engine-replayable. Groups with a
    * degenerate x spread (den = 0) report null slope/intercept.
    *
    * Output: (groupCol, n_points, slope, intercept).
    *
    * Scale: ONE map-side-combined aggregation; constant state per group. */
  def trendByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val x = col(xCol).cast("long").cast(dec)
    val y = col(yCol).cast("long").cast(dec)
    val agg = df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(x).cast(dec).as("sx"), sum(y).cast(dec).as("sy"),
      sum(x * y).cast(dec).as("sxy"), sum(x * x).cast(dec).as("sxx"))
    val num = col("n").cast(dec) * col("sxy") - col("sx") * col("sy")
    val den = col("n").cast(dec) * col("sxx") - col("sx") * col("sx")
    agg
      .withColumn("slope", when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double")))
      .withColumn("intercept", when(den === 0, lit(null).cast("double"))
        .otherwise((col("sy").cast("double")
          - col("slope") * col("sx").cast("double"))
          / col("n").cast("double")))
      .select(col(groupCol), col("n").as("n_points"),
        col("slope"), col("intercept"))
  }

  /** Per-group Wilson score lower bound on a pass rate — the
    * small-sample-honest way to RANK sources/domains by the fraction of
    * their documents passing a quality gate (a 2/2 source must not
    * outrank a 950/1000 one). `passCol` is a boolean column; `z` is the
    * confidence quantile (1.96 ~ 95%).
    *
    * wlb = (p + z²/2n − z·sqrt(p(1−p)/n + z²/4n²)) / (1 + z²/n) with
    * p = k/n — every term one fixed double chain over the exact integer
    * (n, k), replayable when the oracle states the identical expression.
    *
    * Output: (groupCol, n_docs, n_pass, wilson_lb); empty groups can't
    * occur (group keys come from the rows).
    *
    * Scale: one map-side-combined aggregation, constant per-group state. */
  def wilsonRanking(df: DataFrame, groupCol: String, passCol: String,
      z: Double = 1.96): DataFrame = {
    require(z > 0)
    val agg = df.groupBy(groupCol).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col(passCol), 1L).otherwise(0L)).as("n_pass"))
    val nD = col("n_docs").cast("double")
    val p = col("n_pass").cast("double") / nD
    val z2 = lit(z) * lit(z)
    val wlb = (p + z2 / (nD * lit(2.0))
      - lit(z) * sqrt(p * (lit(1.0) - p) / nD
        + z2 / (nD * nD * lit(4.0))))
      ./(lit(1.0) + z2 / nD)
    agg.withColumn("wilson_lb", wlb)
  }

  /** Trailing-window volume anomaly flags over per-group daily counts —
    * "did this source/event type spike or crater today vs its own recent
    * history". For each (group, day) row the trailing `lookback`
    * OBSERVATIONS (ROWS frame — gaps in the calendar shorten the window,
    * documented semantics) supply exact integer moments, and the flag is
    * the same 128-bit z-test as [[outlierFlag]]:
    * `(c*n − s)² · 10⁶ > k² · (n·q − s²)` with every term lifted to
    * DECIMAL(38,0) before multiplying. Rows with fewer than `minHistory`
    * trailing observations are never flagged (cold start).
    *
    * Output: input columns + `anomalous` boolean.
    *
    * Scale: one keyed window over the (group, day) aggregate — data-size
    * bounded by groups x days, not by raw events. */
  def volumeAnomalies(daily: DataFrame, groupCol: String, dayCol: String,
      countCol: String, lookback: Int = 7, minHistory: Long = 4L,
      kPermille: Long = 3000L): DataFrame = {
    require(lookback > 0 && minHistory > 0 && kPermille > 0)
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(groupCol).orderBy(col(dayCol))
      .rowsBetween(-lookback, -1)
    val c = col(countCol).cast("long").cast(dec)
    val withMoments = daily
      .withColumn("__wn", count(col(countCol)).over(w))
      .withColumn("__ws", sum(c).over(w).cast(dec))
      .withColumn("__wq", sum(c * col(countCol).cast("long")).over(w)
        .cast(dec))
    val d = c * col("__wn") - col("__ws")
    val flag = col("__wn") >= minHistory &&
      d * d * lit(1000000L) >
        lit(kPermille * kPermille) *
          (col("__wn").cast(dec) * col("__wq") - col("__ws") * col("__ws"))
    withMoments.withColumn("anomalous", flag)
      .drop("__wn", "__ws", "__wq")
  }

  /** Two-proportion A/B report per experiment group — "did variant B
    * convert differently from variant A, and is the difference
    * statistically real". Inputs are UNIT-level rows (one per user/
    * session, not per event): `variantCol` boolean (true = B),
    * `outcomeCol` boolean (true = converted). Per group the pooled
    * two-proportion z-test runs at alpha = 0.05:
    * `z² = D²·N / (na·nb·C·(N−C))` with `D = ca·nb − cb·na`,
    * `C = ca + cb`, `N = na + nb` — `significant` iff `z² > 3.8416`.
    *
    * Determinism contract: all counts are exact BIGINTs; the comparison
    * runs in DOUBLE as `|D|·sqrt(N) > 1.96·sqrt(na·nb·C·(N−C))` with a
    * fixed association — long→double conversion, multiply and sqrt are
    * all correctly-rounded IEEE ops, so Spark and a SQL oracle replay
    * the flag bit-for-bit (the integer products would need >38 decimal
    * digits at full scale, so DECIMAL(38,0) is NOT the right lift here).
    * Degenerate groups (no conversions, all conversions, or an empty
    * arm) get D = 0 and are never significant.
    *
    * Output: (groupCol, n_a, n_b, conv_a, conv_b, rate_a, rate_b,
    * significant) — rates are int/int doubles, null for empty arms.
    *
    * Scale: one map-side-combined aggregation over unit rows; the output
    * is bounded by the number of experiment groups. */
  def abTestReport(units: DataFrame, groupCol: String, variantCol: String,
      outcomeCol: String): DataFrame = {
    val isB = col(variantCol)
    val conv = col(outcomeCol).cast("long")
    val agg = units.groupBy(groupCol).agg(
      sum(when(!isB, 1L).otherwise(0L)).as("n_a"),
      sum(when(isB, 1L).otherwise(0L)).as("n_b"),
      sum(when(!isB, conv).otherwise(0L)).as("conv_a"),
      sum(when(isB, conv).otherwise(0L)).as("conv_b"))
    val dec = DecimalType(38, 0)
    val na = col("n_a"); val nb = col("n_b")
    val ca = col("conv_a"); val cb = col("conv_b")
    val n = na + nb
    val c = ca + cb
    // cross products in DECIMAL(38,0): ca*nb is exact to 1e38, THEN one
    // correctly-rounded cast to double — a LONG product would wrap past
    // arms of ~3e9 units
    val d = (ca.cast(dec) * nb - cb.cast(dec) * na).cast("double")
    val rhs = lit(1.96) *
      sqrt(na.cast("double") * nb.cast("double") * c.cast("double") *
        (n - c).cast("double"))
    agg
      .withColumn("rate_a",
        when(na > 0, ca.cast("double") / na.cast("double")))
      .withColumn("rate_b",
        when(nb > 0, cb.cast("double") / nb.cast("double")))
      .withColumn("significant", abs(d) * sqrt(n.cast("double")) > rhs)
  }

  /** Per-group Gini concentration of a non-negative LONG value column —
    * "is this source's token mass dominated by a few huge documents?",
    * the inequality diagnostic a curator reads next to [[momentsTable]]
    * before trusting per-source averages.
    *
    * With the group's values sorted ascending (ties broken by `tieBreak`)
    * and 1-based rank i:
    * `G = (2*Σ(i*x_i) - (n+1)*Σx_i) / (n*Σx_i)` — both Σ terms aggregate
    * in DECIMAL(38,0) (i*x_i reaches ~1e14 per row and 1e24 summed at
    * trillion-token sources, far past LONG), and the final value is ONE
    * fixed double chain over the exact aggregates, so any engine replays
    * it bit-for-bit. All-zero groups define G = 0.
    *
    * Output: (groupCol, n_docs, total, gini).
    *
    * Scale: one keyed window (rank within group) + one map-side-combined
    * aggregation; nothing unkeyed ever sees the data. */
  def giniByGroup(df: DataFrame, groupCol: String, valueCol: String,
      tieBreak: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("x"), col("__tb"))
    val ranked = df.select(col(groupCol),
        col(valueCol).cast("long").as("x"), col(tieBreak).as("__tb"))
      .withColumn("i", row_number().over(w).cast("long"))
    ranked.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x").cast(dec)).cast(dec).as("__s"),
        sum(col("i").cast(dec) * col("x")).cast(dec).as("__six"))
      .select(col(groupCol), col("n_docs"),
        col("__s").cast("long").as("total"),
        when(col("__s") === 0, lit(0.0)).otherwise(
          (lit(2.0) * col("__six").cast("double")
            - (col("n_docs").cast("double") + lit(1.0))
              * col("__s").cast("double"))
            / (col("n_docs").cast("double") * col("__s").cast("double")))
          .as("gini"))
  }

  /** Per-group percent-rank score normalization: each row's score maps
    * to `(rank - 1) / (n - 1)` within its group — rank over `scoreCol`
    * ascending with SQL RANK tie semantics (equal scores share a rank),
    * so the result is ORDER-DETERMINISTIC with no tie-break column at
    * all, and the division is int/int in IEEE double (engine-identical).
    * Single-row groups map to 0.0. This is the standard cross-source
    * score calibration step before mixing ranked corpora: raw quality /
    * perplexity scores are incomparable across sources, their
    * within-source percentiles are.
    *
    * Scale: NOT the built-in `percent_rank().over(partitionBy(group))` —
    * exact percent_rank needs a total order per group, and Spark executes
    * that window as "hash-partition by group, sort each ENTIRE group in
    * one task"; with a low-cardinality group key (q164's is event_type,
    * ~5 values) one reducer sorts ~N/5 rows at 100 TB. Instead this is
    * the [[Quantiles.globalRank]] two-phase distributed rank over
    * `(group, score)` (range-partition + in-partition sort, fully
    * parallel, no single-task group sort):
    *
    *   - `min(__grank)` per `(group, score)` is the 1-based start of each
    *     tie run in the global `(group, score)` order — subtracting the
    *     group's own `min(__grank)` gives exactly "rows in this group
    *     with a strictly smaller score", i.e. `rank - 1` under RANK tie
    *     semantics, independent of how the nondeterministic ids landed.
    *   - the per-group `(min, count)` summary is one row per group,
    *     broadcast back onto the (group, score) tie-run table, and the
    *     result re-attaches to the data with a hash join keyed by
    *     `(group, score)` — high-cardinality, AQE-splittable, never a
    *     per-group sort.
    *
    * NULL scores order first (matching the built-in's NULLS FIRST
    * ascending) and re-attach via a null-safe join. Output: input
    * columns + `pct_rank`. */
  def percentRankNormalize(df: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    require(!df.columns.contains("pct_rank"),
      s"percentRankNormalize writes a 'pct_rank' column; input already " +
        s"has one — rename it first (columns: ${df.columns.mkString(", ")})")
    val inCols = df.columns.toSeq
    val ranked = Quantiles.globalRank(df, Seq(col(groupCol), col(scoreCol)))
    val grp = ranked.groupBy(col(groupCol).as("__prg"))
      .agg(min("__grank").as("__gmin"), count(lit(1)).as("__gn"))
    val tieRuns = ranked
      .groupBy(col(groupCol).as("__prg"), col(scoreCol).as("__prs"))
      .agg(min(col("__grank")).as("__ts"))
      .join(broadcast(grp), "__prg")
      .select(col("__prg"), col("__prs"),
        when(col("__gn") === 1L, lit(0.0)).otherwise(
          (col("__ts") - col("__gmin")).cast("double")
            / (col("__gn") - 1L).cast("double")).as("pct_rank"))
    ranked.drop("__grank", "__total")
      .join(tieRuns,
        col(groupCol) <=> col("__prg") && col(scoreCol) <=> col("__prs"))
      .select(inCols.map(col) :+ col("pct_rank"): _*)
  }

  /** Robust outlier flags via MAD (median absolute deviation): per
    * group, med = exact disc median of `valueCol` (integer cents), mad =
    * exact disc median of |x - med|, and x flags when
    * |x - med| * 1000 > kPermille * mad — e.g. kPermille = 3500 is the
    * standard "3.5 MADs" rule (multiply by 1.4826 yourself if you want
    * sigma-equivalents). UNLIKE [[zScoreOutliers]], a single wild value
    * cannot drag the threshold (medians have a 50 % breakdown point),
    * and the entire decision path is INTEGER arithmetic — no doubles
    * anywhere. A zero-MAD group (majority at one value) flags every
    * deviation, by construction.
    *
    * Scale: two [[Quantiles.discPercentiles]] distributed ranks (no
    * buffering percentile agg), each summary broadcast back.
    * Output: input columns + (med, mad, is_out). */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      tieBreak: String, kPermille: Long = 3500L): DataFrame = {
    require(kPermille > 0)
    val med = Quantiles.discPercentiles(
        df, groupCol, valueCol, tieBreak, Seq(0.5))
      .select(col(groupCol), col("p50").as("med"))
    val withMed = df.join(broadcast(med), Seq(groupCol))
      .withColumn("__dev", abs(col(valueCol) - col("med")))
    val mad = Quantiles.discPercentiles(
        withMed, groupCol, "__dev", tieBreak, Seq(0.5))
      .select(col(groupCol), col("p50").as("mad"))
    withMed.join(broadcast(mad), Seq(groupCol))
      .withColumn("is_out",
        col("__dev") * 1000L > lit(kPermille) * col("mad"))
      .drop("__dev")
  }

  /** Winsorization audit: per group, the exact disc p1/p99 cut points of
    * an integer `valueCol` (cents) and the clipping impact of clamping
    * to [p1, p99] — the report a pipeline reviews before committing to
    * outlier clipping, and the exact bookkeeping to prove the clamp did
    * what it claimed (sum deltas in integer cents, never floats).
    *
    * Scale: [[Quantiles.discPercentiles]]' distributed rank for the cuts
    * (no buffering percentile aggregate), the bounded per-group cut rows
    * broadcast back onto the data, one map-side-combined aggregation.
    *
    * Output per group: (groupCol, n, lo_cut, hi_cut, n_low, n_high,
    * sum_cents, sum_winsorized_cents). */
  def winsorizeReport(df: DataFrame, groupCol: String, valueCol: String,
      tieBreak: String): DataFrame = {
    val cuts = Quantiles.discPercentiles(
        df, groupCol, valueCol, tieBreak, Seq(0.01, 0.99))
      .select(col(groupCol), col("p1").as("lo_cut"),
        col("p99").as("hi_cut"))
    df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .join(broadcast(cuts), Seq(groupCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        max("lo_cut").as("lo_cut"), max("hi_cut").as("hi_cut"),
        sum(when(col("__v") < col("lo_cut"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("__v") > col("hi_cut"), 1L).otherwise(0L)).as("n_high"),
        sum(col("__v")).cast("long").as("sum_cents"),
        sum(greatest(least(col("__v"), col("hi_cut")), col("lo_cut")))
          .cast("long").as("sum_winsorized_cents"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the rows where
    * `sideCol` is false (reference) and true (current) over an INTEGER
    * `valueCol` — the distribution-shape complement of the PSI report:
    * PSI needs pre-chosen buckets and saturates, KS is bucket-free over
    * the value grid and reads directly as "max CDF gap". The classic
    * train-vs-test covariate-shift gate: quantize the score (cents,
    * permille, floor-units), tag the two samples, and reject the split
    * when D exceeds the tolerance.
    *
    * Exact integer core: at each distinct value v, `D(v) * nRef * nCur =
    * |cumRef(v) * nCur - cumCur(v) * nRef|` — cumulative counts and the
    * cross-products stay in DECIMAL(38,0) (counts can pass 1e12 at
    * 100 TB, the product passes LONG), the final D is ONE double division
    * of exact integers, and `ks_at` is the smallest value attaining the
    * max, so every field is engine-replayable bit-for-bit. A side with
    * zero rows yields NULL `ks_d` (documented, not a crash: the CDF of an
    * empty sample is undefined).
    *
    * Output (one row): (n_ref, n_cur, ks_at, ks_d).
    *
    * Scale: ONE map-side-combined count collapses the data to the
    * distinct-value grid; the running sums and the argmax run over that
    * BOUNDED table only (the caller's quantization bounds it — same
    * contract as [[CorpusCompareOps.psiCounts]] buckets and the
    * corpus-growth day table), so the unkeyed windows never see data
    * rows. NULL values and NULL sides are excluded from both samples. */
  def ksDrift(df: DataFrame, sideCol: String,
      valueCol: String): DataFrame =
    ksFromCounts(ksCounts(df, sideCol, valueCol))

  /** The mergeable (v, n_ref, n_cur) grid phase of [[ksDrift]] — ONE
    * map-side-combined aggregation. The same unresolved plan works on a
    * streaming frame (counts add, so micro-batch partials ARE the batch
    * combine), which is what
    * [[graft.streaming.EventStreams.streamingKsCounts]] delegates to —
    * one definition, the shared-phase rule. */
  def ksCounts(df: DataFrame, sideCol: String,
      valueCol: String): DataFrame =
    df.filter(col(sideCol).isNotNull && col(valueCol).isNotNull)
      .select(col(sideCol).as("__s"), col(valueCol).cast("long").as("__v"))
      .groupBy("__v")
      .agg(sum(when(col("__s"), 0L).otherwise(1L)).as("__nr"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("__nc"))

  /** Finish [[ksDrift]] from a (v, n_ref, n_cur) grid — the shape
    * [[ksCounts]] produces and the streaming monitor maintains as
    * complete-mode state.
    *
    * The caller-quantizes contract is SELF-DEFENDING: the running sums
    * ride unkeyed windows, which are only sane on a bounded grid, so a
    * plan-side guard fails the query loudly (before the single-task
    * sort sees the oversized grid) when the distinct-value count
    * exceeds `maxGridRows` — an unquantized high-cardinality double
    * column fails fast instead of silently single-task-sorting the
    * data. 2^20 distinct values is far above any sane quantization and
    * still sorts in well under a second. */
  def ksFromCounts(grid0: DataFrame,
      maxGridRows: Long = 1L << 20): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the grid feeds the guard count AND the running-sum windows — a
    // caller passing an unpersisted aggregation (the ksCounts shape)
    // would otherwise scan the corpus twice, so persist it around the
    // guard; the 1-row result releases it before returning (tier 1,
    // operators/Caching.scala — the mutualInformationReport pattern)
    val grid = grid0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gcnt = grid.agg(count(lit(1)).as("__gn"))
    val guarded = grid.crossJoin(broadcast(gcnt))
      .filter(assert_true(col("__gn") <= lit(maxGridRows),
        format_string("ksFromCounts grid has %s distinct values" +
          " (max %s) — quantize the value column before ksDrift" +
          " (caller-quantizes contract)",
          col("__gn"), lit(maxGridRows))).isNull)
      .drop("__gn")
    val scored = guarded
      .withColumn("__cr", sum("__nr").over(w).cast(dec))
      .withColumn("__cc", sum("__nc").over(w).cast(dec))
      .withColumn("__tr", sum("__nr").over(wAll).cast(dec))
      .withColumn("__tc", sum("__nc").over(wAll).cast(dec))
      .withColumn("__d",
        abs(col("__cr") * col("__tc") - col("__cc") * col("__tr"))
          .cast(dec))
    val out = scored
      .agg(max(struct(col("__d").as("d"), (-col("__v")).as("negv")))
          .as("__mx"),
        max("__tr").as("__fr"), max("__tc").as("__fc"))
      .select(col("__fr").cast("long").as("n_ref"),
        col("__fc").cast("long").as("n_cur"),
        (-col("__mx.negv")).cast("long").as("ks_at"),
        when(col("__fr") === 0 || col("__fc") === 0,
          lit(null).cast("double"))
          .otherwise(col("__mx.d").cast("double") /
            (col("__fr").cast("double") * col("__fc").cast("double")))
          .as("ks_d"))
    Caching.materializeAndRelease(out, grid)
  }

  /** Mutual information (and normalized MI) between two categorical
    * columns — the feature-relevance / redundancy audit: does knowing
    * `colA` tell you anything about `colB`? MI = Σ_ab p(a,b) ·
    * ln(p(a,b)·n / (p(a)·p(b)·n²))-style terms, all built from exact
    * joint and marginal COUNTS.
    *
    * Engine-portability: each cell contributes `floor(c_ab ·
    * ln((c_ab·n)/(r_a·c_b)) · 1e7 + 0.5)` — the ln argument is ONE double
    * division of exact DECIMAL(38,0) integer products (c·n and r·c pass
    * LONG at 100 TB), the contribution is quantized at 1e7 (the PSI /
    * BM25 precedent) and summed as exact integers, so the sum is
    * order-insensitive and any engine replays it bit-for-bit. Entropies
    * H(A), H(B) use the same quantized chain over the marginal tables,
    * and `nmi = mi / sqrt(h_a·h_b)` is one fixed double chain (NULL when
    * either entropy is zero — a constant column carries no information
    * to normalize by).
    *
    * Output (one row): (n, n_cells, mi_nats, h_a, h_b, nmi).
    *
    * Scale: ONE map-side-combined (a, b) count collapses the data; the
    * marginals re-aggregate FROM the bounded cell grid (no second corpus
    * scan) and broadcast back onto it. Contract: |A|·|B| cells bounded
    * (categorical columns — language, source, segment), the same bound
    * [[cohenKappa]] and chi-square carry — and SELF-DEFENDING: a
    * plan-side guard fails the query loudly when the joint grid exceeds
    * `maxCells` (the guard sits between the persisted grid and the
    * marginal broadcasts, so an unbounded pair of columns dies with
    * this message instead of an executor/driver OOM). NULL categories
    * participate as their own category (null-safe joins throughout). */
  def mutualInformationReport(df: DataFrame, colA: String,
      colB: String, maxCells: Long = 1L << 20): DataFrame = {
    val dec = DecimalType(38, 0)
    // the bounded cell grid feeds FOUR consumers (joined rows, both
    // marginals, totals) — persist it so the corpus is scanned once,
    // released before returning (tier 1, operators/Caching.scala)
    val cells0 = df.select(col(colA).as("__a"), col(colB).as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).cast(dec).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ncells0 = cells0.agg(count(lit(1)).as("__gn"))
    val cells = cells0.crossJoin(broadcast(ncells0))
      .filter(assert_true(col("__gn") <= lit(maxCells),
        format_string("mutualInformationReport joint grid has %s cells" +
          " (max %s) — both columns must be categorical (the |A|*|B|" +
          " bounded contract)", col("__gn"), lit(maxCells))).isNull)
      .drop("__gn")
    val ra = cells.groupBy("__a").agg(sum("__c").cast(dec).as("__ra"))
    val cb = cells.groupBy("__b").agg(sum("__c").cast(dec).as("__cb"))
    val tot = cells.agg(sum("__c").cast(dec).as("__n"),
      count(lit(1)).as("__ncells"))
    def qterm(c: Column, ln: Column): Column =
      floor(c.cast("double") * ln * lit(1e7) + lit(0.5)).cast(dec)
    val joined = cells
      .join(broadcast(ra), cells("__a") <=> ra("__a")).drop(ra("__a"))
      .join(broadcast(cb), cells("__b") <=> cb("__b")).drop(cb("__b"))
      .crossJoin(broadcast(tot))
    val miq = joined.agg(
      sum(qterm(col("__c"),
        log((col("__c") * col("__n")).cast("double") /
          (col("__ra") * col("__cb")).cast("double")))).cast(dec)
        .as("__miq"),
      max("__n").as("__n"), max("__ncells").as("__ncells"))
    // -Σ r ln(r/n) quantized per marginal row, summed exact; both
    // 1-row entropy aggregates broadcast onto the 1-row MI aggregate
    def entq(marg: DataFrame, cnt: String, as: String): DataFrame =
      marg.crossJoin(broadcast(tot.select("__n")))
        .agg(sum(qterm(col(cnt),
          -log(col(cnt).cast("double") / col("__n").cast("double"))))
          .cast(dec).as(as))
    val ha = miq
      .crossJoin(broadcast(entq(ra, "__ra", "__haq")))
      .crossJoin(broadcast(entq(cb, "__cb", "__hbq")))
    val nd = col("__n").cast("double") * lit(1e7)
    val out = ha.select(col("__n").cast("long").as("n"),
      col("__ncells").as("n_cells"),
      (col("__miq").cast("double") / nd).as("mi_nats"),
      (col("__haq").cast("double") / nd).as("h_a"),
      (col("__hbq").cast("double") / nd).as("h_b"),
      when(col("__haq") <= 0 || col("__hbq") <= 0,
        lit(null).cast("double"))
        .otherwise(col("__miq").cast("double") /
          sqrt(col("__haq").cast("double") * col("__hbq").cast("double")))
        .as("nmi"))
    Caching.materializeAndRelease(out, cells0)
  }

  /** Cohen's kappa inter-rater agreement between two label columns —
    * the labeling-pipeline QA gate: raw percent agreement flatters
    * imbalanced label sets (two raters who both answer "en" 95 % of the
    * time agree 90 % by luck alone); kappa subtracts that chance
    * agreement. With n rows, n_agree exact matches, and per-label
    * marginals r_k (rater A) and c_k (rater B):
    * `kappa = (n_agree·n − Σ_k r_k·c_k) / (n² − Σ_k r_k·c_k)` — the
    * standard (p_o − p_e)/(1 − p_e) cleared of divisions, so every term
    * is an exact DECIMAL(38,0) integer and the result is ONE double
    * division any engine replays bit-for-bit. Both-raters-constant on
    * the same label makes the denominator zero → NULL (agreement is
    * undefined when chance agreement is total). NULL labels participate
    * as their own category (null-safe equality and joins).
    *
    * Output (one row): (n, n_agree, kappa).
    *
    * Scale: one map-side-combined pass for (n, n_agree), one count per
    * marginal, and the pe cross-product joins the two BOUNDED marginal
    * tables (|labels| rows — the categorical contract, SELF-DEFENDING:
    * the broadcast marginal carries a plan-side guard that fails the
    * query loudly past `maxLabels` instead of OOMing the driver on an
    * unbounded label column) null-safely. */
  def cohenKappa(df: DataFrame, colA: String, colB: String,
      maxLabels: Long = 1L << 20): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df.select(col(colA).as("__a"), col(colB).as("__b"))
    val agg = base.agg(count(lit(1)).cast(dec).as("__n"),
      sum(when(col("__a") <=> col("__b"), 1L).otherwise(0L)).cast(dec)
        .as("__agree"))
    val ra = base.groupBy("__a").agg(count(lit(1)).cast(dec).as("__ra"))
    val cb0 = base.groupBy("__b").agg(count(lit(1)).cast(dec).as("__cb"))
    val cbN = cb0.agg(count(lit(1)).as("__gn"))
    val cb = cb0.crossJoin(broadcast(cbN))
      .filter(assert_true(col("__gn") <= lit(maxLabels),
        format_string("cohenKappa has %s distinct rater-B labels" +
          " (max %s) — label columns must be categorical (the bounded" +
          " marginal contract)", col("__gn"), lit(maxLabels))).isNull)
      .drop("__gn")
    val pe = ra.join(broadcast(cb), ra("__a") <=> cb("__b"))
      .agg(coalesce(sum((col("__ra") * col("__cb")).cast(dec)), lit(0))
        .cast(dec).as("__pe"))
    agg.crossJoin(broadcast(pe))
      .select(col("__n").cast("long").as("n"),
        col("__agree").cast("long").as("n_agree"),
        when(col("__n") * col("__n") === col("__pe"),
          lit(null).cast("double"))
          .otherwise(
            (col("__agree") * col("__n") - col("__pe")).cast("double") /
              (col("__n") * col("__n") - col("__pe")).cast("double"))
          .as("kappa"))
  }

  /** Fleiss' kappa — chance-corrected agreement for N raters per item
    * (the multi-annotator generalization of [[cohenKappa]]; the
    * labeling-pool QA gate when every item is rated by the same number
    * of annotators). Input: one row per rating (itemCol, labelCol).
    *
    * With N items, n ratings per item, c_ij per-(item, label) counts,
    * T_j label totals, S2 = ΣΣ c_ij²:
    * `kappa = ((S2 − Nn)·Nn − ΣT_j²·(n−1)) /
    *          ((n−1)·((Nn)² − ΣT_j²))`
    * — the textbook (P̄−P̄e)/(1−P̄e) cleared of divisions, every term an
    * exact DECIMAL(38,0) integer; numerator and denominator enter
    * double-land through [[limbDouble]] (they exceed 2^53 at any real
    * pool size) and the result is ONE division. P̄e = 1 (all raters
    * constant on one label) → NULL. NULL labels are their own category.
    *
    * Fleiss requires a CONSTANT rating count per item — enforced with a
    * loud plan-side guard, not silently averaged over ragged items.
    *
    * Output (one row): (n_items, n_raters, n_categories, p_bar, p_e,
    * kappa).
    *
    * Scale: ONE (item, label) map-side-combined grid collapses the
    * ratings; everything else re-aggregates FROM the grid (item stats
    * keyed by item, label totals keyed by label, then 1-row aggregates
    * broadcast together). Item cardinality unbounded. */
  def fleissKappa(df: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val grid = df.select(col(itemCol).as("__i"), col(labelCol).as("__l"))
      .groupBy("__i", "__l").agg(count(lit(1)).cast(dec).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val items = grid.groupBy("__i")
      .agg(sum("__c").cast(dec).as("__r"),
        sum((col("__c") * col("__c")).cast(dec)).cast(dec).as("__s2i"))
    val itemAgg = items.agg(
      count(lit(1)).cast(dec).as("__N"),
      min("__r").cast(dec).as("__rmin"),
      max("__r").cast(dec).as("__rmax"),
      sum("__s2i").cast(dec).as("__S2"))
    val labelAgg = grid.groupBy("__l")
      .agg(sum("__c").cast(dec).as("__t"))
      .agg(count(lit(1)).as("__k"),
        sum((col("__t") * col("__t")).cast(dec)).cast(dec).as("__T2"))
    val joined = itemAgg.crossJoin(broadcast(labelAgg))
      .filter(assert_true(col("__rmin") === col("__rmax"),
        format_string("fleissKappa requires a constant rating count per" +
          " item, got min %s != max %s — filter to a complete annotation" +
          " round first", col("__rmin"), col("__rmax"))).isNull)
    val n = col("__rmax")
    val nn = (col("__N") * n).cast(dec)
    val num = ((col("__S2") - nn) * nn -
      col("__T2") * (n - 1).cast(dec)).cast(dec)
    val den = ((n - 1).cast(dec) * (nn * nn - col("__T2"))).cast(dec)
    val out = joined.select(
      col("__N").cast("long").as("n_items"),
      n.cast("long").as("n_raters"),
      col("__k").as("n_categories"),
      when(n <= 1, lit(null).cast("double"))
        .otherwise(limbDouble((col("__S2") - nn).cast(dec)) /
          limbDouble((nn * (n - 1).cast(dec)).cast(dec))).as("p_bar"),
      (limbDouble(col("__T2")) / limbDouble((nn * nn).cast(dec)))
        .as("p_e"),
      when(den === 0 || n <= 1, lit(null).cast("double"))
        .otherwise(limbDouble(num) / limbDouble(den)).as("kappa"))
    Caching.materializeAndRelease(out, grid)
  }

  /** Benford first-digit audit of a positive integer `valueCol` (cents)
    * per group — the cheap fabricated-data / corrupted-feed detector:
    * naturally occurring multiplicative quantities lead with digit d at
    * probability log10(1 + 1/d), and synthetic or truncated feeds
    * don't. Reports the 9 observed digit counts and the chi-square
    * statistic against the Benford expectation.
    *
    * Determinism: the leading digit comes from the decimal STRING form
    * of the long (never `log10` — double log10 of exact powers of ten
    * lands on 2.9999999999999996-style values and floors to the wrong
    * digit); the chi-square is a FIXED 9-term chain, each term
    * `(obs − n·p_d)²/(n·p_d)` quantized at 1e7 and summed as exact
    * integers, with the p_d literals embedded once from this JVM and
    * restated verbatim in the oracle SQL (libm log10 is not guaranteed
    * correctly-rounded across engines, an embedded literal is).
    * Rows with NULL, zero, or negative values are excluded from the
    * digit distribution but counted in `n_skipped` — silently folding
    * them into a digit bucket would skew the expectation.
    *
    * Output per group: (groupCol, n, n_skipped, d1..d9, chi2).
    *
    * Scale: ONE map-side-combined aggregation with 11 conditional
    * counters; the per-row digit is a codegen'd substring, no UDF. */
  def benfordAudit(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val pos = col("__v").isNotNull && col("__v") > 0
    // CaseWhen evaluates lazily per row — the cast must not see the '-'
    // of a negative value (ANSI cast throws on it)
    val digit = when(pos,
      substring(col("__v").cast("string"), 1, 1).cast("int"))
    val counts = (1 to 9).map(d =>
      sum(when(digit === d, 1L).otherwise(0L)).as(s"d$d"))
    val aggd = df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .groupBy(groupCol)
      .agg(sum(when(pos, 1L).otherwise(0L)).as("n"),
        (sum(when(pos, 0L).otherwise(1L)).as("n_skipped") +: counts): _*)
    val chi2 = (1 to 9).map { d =>
      val exp = col("n").cast("double") * lit(BenfordP(d - 1))
      val diff = col(s"d$d").cast("double") - exp
      floor(diff * diff / exp * lit(1e7) + lit(0.5)).cast("long")
    }.reduce(_ + _)
    aggd.withColumn("chi2",
      when(col("n") === 0, lit(null).cast("double"))
        .otherwise(chi2.cast("double") / lit(1e7)))
  }

  /** log10(1 + 1/d) for d = 1..9, computed once here and embedded as
    * literals in both the plan and the oracle SQL (see [[benfordAudit]]). */
  val BenfordP: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** Exact per-group ROC AUC of `scoreCol` against a boolean `labelCol`
    * — the score-quality eval every selection pipeline needs before
    * trusting a quality/perplexity model as a filter: AUC is the
    * probability a random positive outscores a random negative, computed
    * by the Mann-Whitney rank identity with EXACT midrank tie handling
    * (`AUC = (Σ_pos midrank − nPos(nPos+1)/2) / (nPos·nNeg)`).
    *
    * Exactness: ranks come from [[Quantiles.globalRank]]'s two-phase
    * distributed rank over `(group, score)` (range exchange — fully
    * parallel even when one group owns most rows, the percent-rank
    * recipe); a (group, score) tie run starting at group-local rank r
    * with c members has midrank `r + (c−1)/2`, so the DOUBLED positive
    * midrank mass `Σ p·(2r + c − 1)` stays integral, every aggregate is
    * DECIMAL(38,0), and the final value is ONE double division any
    * engine replays bit-for-bit. A group with no positives or no
    * negatives yields NULL (AUC undefined). Rows with NULL score or
    * label are excluded — the reported n_pos/n_neg make the exclusion
    * visible, never silent.
    *
    * Output per group: (groupCol, n_pos, n_neg, auc).
    *
    * Scale: the rank is a range exchange + per-partition offsets (no
    * single-task group sort); tie runs and the per-group rank offset are
    * keyed aggregations; the offset table (one row per group) broadcasts
    * back. globalRank's materialization is a plan-owned cache (tier 2,
    * operators/Caching.scala) — lifetime belongs to the returned
    * Dataset, reclaimed by session cleanup or the ContextCleaner. */
  def aucByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(groupCol).as("__g"), col(scoreCol).as("__s"),
        col(labelCol).cast("boolean").as("__y"))
    val ranked = Quantiles.globalRank(base, Seq(col("__g"), col("__s")))
    val gmin = ranked.groupBy("__g").agg(min("__grank").as("__gmin"))
    val runs = ranked.groupBy("__g", "__s")
      .agg(min("__grank").as("__rmin"), count(lit(1)).as("__c"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"))
    runs.join(broadcast(gmin), "__g")
      .select(col("__g"),
        (col("__p").cast(dec) *
          ((col("__rmin") - col("__gmin") + 1L) * 2L + col("__c") - 1L)
            .cast(dec)).cast(dec).as("__spr2"),
        col("__p"), (col("__c") - col("__p")).as("__q"))
      .groupBy("__g")
      .agg(sum("__spr2").cast(dec).as("__spr2"),
        sum("__p").cast(dec).as("__np"), sum("__q").cast(dec).as("__nn"))
      .select(col("__g").as(groupCol),
        col("__np").cast("long").as("n_pos"),
        col("__nn").cast("long").as("n_neg"),
        when(col("__np") === 0 || col("__nn") === 0,
          lit(null).cast("double"))
          .otherwise(
            (col("__spr2") - col("__np") * (col("__np") + 1)).cast("double")
              / (col("__np") * col("__nn") * 2).cast("double"))
          .as("auc"))
  }

  /** Robust scaling of an integer `valueCol` (cents) within each group:
    * `(x − median) / IQR` — the outlier-immune complement of z-score
    * normalization (mean/σ move with every wild value; median and the
    * p25/p75 cuts have bounded breakdown), the standard feature-scaling
    * step before mixing heavy-tailed sources.
    *
    * Exactness: the three cut points are exact disc percentiles
    * (actual data values via [[Quantiles.discPercentiles]]' distributed
    * rank — no buffering aggregate, no interpolation), and the scaled
    * value is ONE double division of exact integers — engine-identical.
    * A zero-IQR group (over half the mass on one value) yields NULL
    * scaled values rather than a division blow-up.
    *
    * Output: input columns + (med, iqr, robust_scaled).
    *
    * Scale: one keyed rank window per percentile pass (the q86 shape),
    * the bounded per-group cut rows broadcast back onto the data. */
  def robustScale(df: DataFrame, groupCol: String, valueCol: String,
      tieBreak: String): DataFrame = {
    val cuts = Quantiles.discPercentiles(
        df, groupCol, valueCol, tieBreak, Seq(0.25, 0.5, 0.75))
      .select(col(groupCol), col("p25").as("__lo"),
        col("p50").as("med"), col("p75").as("__hi"))
    df.join(broadcast(cuts), Seq(groupCol))
      .withColumn("iqr", col("__hi") - col("__lo"))
      .withColumn("robust_scaled",
        when(col("iqr") === 0, lit(null).cast("double"))
          .otherwise((col(valueCol) - col("med")).cast("double") /
            col("iqr").cast("double")))
      .drop("__lo", "__hi")
  }

  /** Distribution-shape profile of an integer `valueCol` (cents) per
    * group: mean, population variance, skewness, and EXCESS kurtosis —
    * the asymmetry/tail census a pipeline reads before choosing between
    * z-score and MAD outlier rules (skew ≈ 0 and kurtosis ≈ 0 justify
    * the z-test; heavy tails say use [[madOutliers]]).
    *
    * Exactness: the four raw power sums Σx..Σx⁴ accumulate in
    * DECIMAL(38,0) (x⁴ at 1e6-cent values is 1e24 per row — x must stay
    * within ±2^26 cents for the Σx⁴ of 1e12 rows to fit 38 digits,
    * documented contract); each sum enters double-land through
    * [[limbDouble]] — DuckDB's CAST(HUGEINT AS DOUBLE) is measurably
    * not correctly rounded past 2^53, so a direct cast would let the
    * central-moment subtractions amplify a last-ulp engine difference —
    * and the central moments and both shape ratios are then ONE fixed
    * double chain over engine-identical inputs, so any engine replays
    * them bit-for-bit BY CONSTRUCTION, not by luck of the values.
    * Groups with n < 2 or zero variance report NULL shape (undefined).
    *
    * Output per group: (groupCol, n, mean, variance, skewness,
    * kurtosis).
    *
    * Scale: ONE map-side-combined keyed aggregation — nothing else. */
  def momentsByGroup(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val x = col("__v").cast(dec)
    val agg = df
      .select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(x).cast(dec).as("__s1"),
        sum((x * x).cast(dec)).cast(dec).as("__s2"),
        sum((x * x * x).cast(dec)).cast(dec).as("__s3"),
        sum((x * x * x * x).cast(dec)).cast(dec).as("__s4"))
    val nD = col("n").cast("double")
    val mu = limbDouble(col("__s1")) / nD
    val r2 = limbDouble(col("__s2")) / nD
    val r3 = limbDouble(col("__s3")) / nD
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    val m4 = limbDouble(col("__s4")) / nD -
      lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
      lit(3.0) * mu * mu * mu * mu
    agg.select(col(groupCol), col("n"),
      mu.as("mean"), m2.as("variance"),
      when(col("n") < 2 || m2 <= 0, lit(null).cast("double"))
        .otherwise(m3 / sqrt(m2 * m2 * m2)).as("skewness"),
      when(col("n") < 2 || m2 <= 0, lit(null).cast("double"))
        .otherwise(m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
  }

  /** Engine-identical double view of an exact DECIMAL(38,0) integer.
    *
    * A direct wide-integer→double cast is the one step two engines may
    * disagree on: DuckDB's CAST(HUGEINT AS DOUBLE) is measurably NOT
    * correctly rounded past 2^53 (e.g. 22240711483861231690 →
    * ...1230e19; correct is ...1234e19) while Spark's Decimal cast is.
    * So: split |s| into three limbs below 2^53 with exact integer
    * floor/mod (identical integer results in Spark decimal math and
    * DuckDB HUGEINT `//`/`%` — operands kept non-negative, where the
    * two engines' division semantics agree), cast each limb exactly,
    * and recombine in one FIXED left-associated double expression.
    * The result can differ from the correctly-rounded cast by 1 ulp
    * (double rounding), but every engine computes the identical bits.
    * Oracle twin (same limbs, same order):
    * {{{
    * (CAST(ABS(s)//P//P AS DOUBLE) * 1.2676506002282294e30
    *  + CAST(ABS(s)//P % P AS DOUBLE) * 1.125899906842624e15
    *  + CAST(ABS(s) % P AS DOUBLE)) * sign  -- P = 2^50
    * }}} */
  private[operators] def limbDouble(s: Column): Column = {
    val dec = DecimalType(38, 0)
    val p = lit(1125899906842624L) // 2^50
    def idiv(a: Column): Column = ((a - pmod(a, p)) / p).cast(dec)
    val m = abs(s).cast(dec)
    val h = idiv(m) // < 2^78, needs one more split
    val d = (idiv(h).cast("double") * lit(1.2676506002282294e30) + // 2^100
      pmod(h, p).cast("double") * lit(1.125899906842624e15) + // 2^50
      pmod(m, p).cast("double"))
    when(s < 0, -d).otherwise(d)
  }

  /** Shannon entropy (nats) of `valueCol`'s distribution within each
    * group — the behavioral-diversity fingerprint: a user whose events
    * are 99 % one type is a script, a source whose token mix collapses
    * to one template is boilerplate. Per group with value counts c and
    * total n, `H = Σ (c/n) ln(n/c)`, each cell contribution
    * `floor(c · ln(n/c) · 1e7 + 0.5)` (quantized-ln chain — the
    * PSI/BM25/[[mutualInformationReport]] recipe: the ln argument is one
    * double division of exact integers, terms sum exactly, order never
    * matters) and the reported entropy is `sum / (n · 1e7)`. A
    * single-value group is exactly 0. NULL values count as a category.
    *
    * Output per group: (groupCol, n, n_distinct, entropy_nats).
    *
    * Scale: ONE map-side-combined (group, value) count collapses the
    * data; n arrives via a window keyed by the group over that grid
    * (bounded per group by the value cardinality — no join, no second
    * exchange wider than the grid); the final aggregate is keyed. Group
    * cardinality is unbounded (per-user entropy at 100 TB is fine) —
    * nothing here is per-group single-task beyond its own value grid. */
  /** Smoothed target encoding of a categorical column — the standard
    * high-cardinality feature transform: each category maps to a
    * shrunken mean of an integer `valueCol` (cents),
    * `(Σ_c + m·μ) / (n_c + m)` with the global mean μ as the prior and
    * `priorWeight` m as the pseudo-count, so rare categories pull
    * toward the corpus mean instead of memorizing noise.
    *
    * Exactness: cleared of the fractional prior, the encoding is
    * `(Σ_c·N + m·S) / ((n_c + m)·N)` with S/N the global sum/count —
    * every product exact in DECIMAL(38,0) and the result ONE double
    * division (engine-identical). The global (S, N) re-aggregates FROM
    * the per-category grid (no second corpus scan) and broadcasts back.
    * Empty input yields no rows (μ of nothing is undefined).
    *
    * Output per category: (catCol, n, sum_cents, encoded).
    *
    * Scale: ONE map-side-combined keyed aggregation + a broadcast 1-row
    * global; category cardinality unbounded — which is why the category
    * grid is a PLAN-OWNED persisted cache (tier 2,
    * operators/Caching.scala): both the global re-aggregate and the
    * returned category-sized plan read one materialization; lifetime
    * belongs to the returned Dataset (ContextCleaner) or the caller's
    * cache cleanup. */
  def targetEncode(df: DataFrame, catCol: String, valueCol: String,
      priorWeight: Long): DataFrame = {
    require(priorWeight >= 0, s"priorWeight must be >= 0: $priorWeight")
    val dec = DecimalType(38, 0)
    val cats = df
      .select(col(catCol).as("__c"), col(valueCol).cast("long").as("__v"))
      .groupBy("__c")
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum(col("__v").cast(dec)).cast(dec).as("__s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val global = cats.agg(sum("__n").cast(dec).as("__gn"),
      sum("__s").cast(dec).as("__gs"))
    cats.crossJoin(broadcast(global))
      .select(col("__c").as(catCol),
        col("__n").cast("long").as("n"),
        col("__s").cast("long").as("sum_cents"),
        ((col("__s") * col("__gn") + lit(priorWeight) * col("__gs"))
          .cast("double") /
          ((col("__n") + priorWeight) * col("__gn")).cast("double"))
          .as("encoded"))
  }

  def entropyByGroup(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    entropyFromCounts(categoryCounts(df, groupCol, valueCol), groupCol)

  /** The mergeable (group, value, count) grid phase of
    * [[entropyByGroup]] — ONE map-side-combined aggregation whose
    * unresolved plan also works on a streaming frame
    * ([[graft.streaming.EventStreams.streamingCategoryCounts]]
    * delegates here; one definition, the shared-phase rule). */
  def categoryCounts(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))

  /** Finish [[entropyByGroup]] from a (__g, __v, __c) grid — the shape
    * [[categoryCounts]] produces and the streaming monitor maintains as
    * complete-mode state. */
  def entropyFromCounts(grid: DataFrame, groupCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val n = sum("__c").over(Window.partitionBy("__g"))
    grid
      .withColumn("__n", n)
      .select(col("__g"), col("__n"), col("__c"),
        floor(col("__c").cast("double") *
          log(col("__n").cast("double") / col("__c").cast("double")) *
          lit(1e7) + lit(0.5)).cast(dec).as("__hq"))
      .groupBy("__g")
      .agg(max("__n").as("__fn"), count(lit(1)).as("n_distinct"),
        sum("__hq").cast(dec).as("__sq"))
      .select(col("__g").as(groupCol), col("__fn").as("n"),
        col("n_distinct"),
        (col("__sq").cast("double") /
          (col("__fn").cast("double") * lit(1e7))).as("entropy_nats"))
  }

  /** Default group-size threshold above which [[rankWithinGroups]]
    * escalates from the per-group window sort (ONE task per group) to
    * the two-phase distributed rank. Measured honestly (toRdd force —
    * a count() action lets Catalyst prune the trim sums,
    * understating the single-task cost 10x): a 5M-row group costs
    * ~16 s through the single-task window+trim-aggregate vs ~7 s
    * escalated (local[16], SCALE.md), so 5M is the local
    * crossover; per-task work above it grows linearly while the
    * escalated path stays bounded by rows/partitions. */
  val EscalateGroupRows: Long = 5000000L

  /** The bounded list of groups whose size exceeds `escalateGroupRows`
    * — the routing input of [[rankWithinGroups]]. One map-side-combined
    * census + one bounded filter; `None` when no group exceeds the
    * threshold (the overwhelmingly common shape — the caller then pays
    * NOTHING beyond this census: no cache, no checkpoint, the original
    * window plan verbatim). At most totalRows/escalateGroupRows groups
    * can exceed the threshold, so the returned frame always broadcasts;
    * it is persisted (bounded) because the escalated plan reads it from
    * several join branches. */
  private def dominantGroups(base: DataFrame,
      escalateGroupRows: Long): Option[DataFrame] = {
    val bg = base.groupBy("__g").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > escalateGroupRows)
    if (bg.isEmpty) None
    else Some(bg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Exact 1-based rank within `__g` under the `orderCols` total order,
    * with AUTOMATIC skew escalation, so one dominant group cannot pin
    * the whole rank to a single task.
    * `rows` carries `__g` + the order columns; `bigGroups` is
    * [[dominantGroups]]' routing decision. Output: `rows` + `__rn`
    * (long) + `__n` (group size).
    *
    * Routing: with no dominant group the returned plan IS the plain
    * keyed window (one task per group, parallel ACROSS groups; right
    * for unbounded group cardinality) — bit-for-bit the pre-escalation
    * plan, zero added cost. Groups on the dominant list take the
    * two-phase distributed rank (the [[Quantiles.globalRank]] recipe,
    * grouped): range-partition by (__g, orderCols) + partition-local
    * sort, partition-local position from monotonically_increasing_id,
    * then per-(partition, group) offsets — a grid bounded by
    * #bigGroups + #partitions, broadcast back; the remaining groups
    * reach the window through a broadcast anti-join (no extra
    * shuffle). Both paths produce the SAME rank (same total order),
    * so results are bit-identical whichever path a group takes. NULL
    * groups never match the broadcast list and always rank on the
    * window path (matching groupBy's null-group semantics).
    *
    * Returns (ranked rows, scaffolding caches the caller must release
    * — bounded-output callers pass them to
    * [[Caching.materializeAndRelease]]). */
  private[operators] def rankWithinGroups(rows: DataFrame,
      orderCols: Seq[String], bigGroups: Option[DataFrame])
      : (DataFrame, Seq[DataFrame]) = {
    val ord = orderCols.map(col)
    val w = Window.partitionBy("__g").orderBy(ord: _*)
    def windowed(in: DataFrame): DataFrame = in
      // __rn is LONG in both paths: an escalated group's size exceeds
      // the int row_number() range long before 100 TB
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("__g")))
    bigGroups match {
      case None => (windowed(rows), Nil)
      case Some(bg) =>
        // rows feeds BOTH route branches — persist so the source plan
        // runs once per pass, not once per branch
        val cached = rows.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val small = windowed(cached.join(
          broadcast(bg.select("__g")), Seq("__g"), "left_anti"))
        // two-phase path: persisted because monotonically_increasing_id
        // is nondeterministic and BOTH the offset grid and the output
        // read it
        val sized = cached.join(broadcast(bg), Seq("__g"))
          .repartitionByRange((col("__g") +: ord): _*)
          .sortWithinPartitions((col("__g") +: ord): _*)
          .withColumn("__mid", monotonically_increasing_id())
          .withColumn("__pid", shiftright(col("__mid"), 33))
          .withColumn("__lrk", (col("__mid") % (1L << 33)) + 1L)
          .drop("__mid")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val offs = sized.groupBy("__pid", "__g")
          .agg(count(lit(1)).as("__cnt"), min("__lrk").as("__first"))
          .withColumn("__off", coalesce(
            sum("__cnt").over(Window.partitionBy("__g").orderBy("__pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("__pid", "__g", "__first", "__off")
        val big = sized.join(broadcast(offs), Seq("__pid", "__g"))
          .withColumn("__rn",
            col("__lrk") - col("__first") + 1L + col("__off"))
          .drop("__pid", "__lrk", "__first", "__off")
        (small.unionByName(big), Seq(cached, sized))
    }
  }

  /** Per-group trimmed mean — the outlier-robust location estimate a
    * pipeline reports when a handful of pathological rows (a 2 GB
    * document, a negative price) would drag the plain mean: drop
    * exactly `floor(lo·n/1000)` smallest and `floor((1000−hi)·n/1000)`
    * largest values (by (value, tieBreak) total order), then the exact
    * mean of what remains — integer sum, ONE [[limbDouble]] division.
    *
    * Output per group: (groupCol, n, n_kept, trimmed_mean) —
    * trimmed_mean NULL when nothing survives the trim.
    *
    * Scale: rank via [[rankWithinGroups]] — groups sort in parallel
    * across the cluster, and a group bigger than `escalateGroupRows`
    * auto-escalates to the two-phase distributed rank instead of
    * serializing one task — + ONE keyed aggregation. */
  def trimmedMeanByGroup(df: DataFrame, groupCol: String,
      valueCol: String, tieBreak: String, loPermille: Int = 50,
      hiPermille: Int = 950,
      escalateGroupRows: Long = EscalateGroupRows): DataFrame = {
    require(loPermille >= 0 && hiPermille <= 1000 &&
      loPermille <= hiPermille,
      s"bad trim band: [$loPermille, $hiPermille]")
    val dec = DecimalType(38, 0)
    val base = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("long")
        .as("__v"), col(tieBreak).as("__t"))
    val bg = dominantGroups(base, escalateGroupRows)
    val (ranked, caches) = rankWithinGroups(base, Seq("__v", "__t"), bg)
    val kept = col("__rn") > expr(s"$loPermille * __n div 1000") &&
      col("__rn") <= col("__n") -
        expr(s"${1000 - hiPermille} * __n div 1000")
    val out = ranked.groupBy("__g")
      .agg(max("__n").cast("long").as("n"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("__v").cast(dec)).otherwise(lit(0).cast(dec)))
          .cast(dec).as("__s"))
      .select(col("__g").as(groupCol), col("n"), col("n_kept"),
        when(col("n_kept") === 0, lit(null).cast("double"))
          .otherwise(limbDouble(col("__s")) /
            limbDouble(col("n_kept").cast(dec))).as("trimmed_mean"))
    bg match {
      case None => out // no dominant group: no caches, no checkpoint
      case Some(b) =>
        Caching.materializeAndRelease(out, (b +: caches): _*)
    }
  }

  /** Per-group Atkinson inequality index (ε = 2) — the inequality
    * audit of a value column (token counts per source, bytes per
    * shard): A₂ = 1 − harmonic_mean / arithmetic_mean over positive
    * values — 0 for a perfectly even distribution, → 1 as the mass
    * concentrates. Chosen over Theil/ln-based indices deliberately:
    * a per-row transcendental CANNOT be made engine-identical (JVM
    * Math.log and DuckDB ln disagree by 1 ulp on real arguments —
    * measured), while the harmonic form needs only a reciprocal,
    * which quantizes exactly.
    *
    * Engine-parity BY CONSTRUCTION: each row contributes the exact
    * integer `q = 10^12 div x` (the quantized reciprocal — the
    * operator's DEFINITION, so both engines floor identically);
    * with n rows and S = Σx, the index is the fixed double chain
    * `1 − (n·10^12 / Σq) · (n / S)` — two [[limbDouble]] divisions
    * and one multiply, bit-identical across engines. NULL and
    * non-positive values are excluded.
    *
    * Output per group: (groupCol, n, atkinson).
    *
    * Scale: ONE map-side-combined keyed aggregation — no join, no
    * window; group cardinality unbounded. */
  def atkinsonIndex(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val tera = lit(1000000000000L)
    df
      .filter(col(valueCol).isNotNull && col(valueCol).cast("long") > 0)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast(dec)).cast(dec).as("__s"),
        sum(expr("1000000000000 div __v").cast(dec)).cast(dec)
          .as("__q"))
      .select(col("__g").as(groupCol), col("__n").as("n"),
        (lit(1.0) -
          (limbDouble((col("__n").cast(dec) * tera).cast(dec)) /
            limbDouble(col("__q"))) *
          (limbDouble(col("__n").cast(dec)) / limbDouble(col("__s"))))
          .as("atkinson"))
  }

  /** Per-group median and MAD (median absolute deviation) — the robust
    * location/scale pair (the robust-scaling complement: MAD survives
    * the heavy tails that wreck a standard deviation). Disc medians at
    * rank `(n+1) div 2` of the (value, tieBreak) order, then of the
    * absolute deviations — every step exact integer arithmetic.
    *
    * Output per group: (groupCol, n, median, mad).
    *
    * Scale: two grouped ranks via [[rankWithinGroups]] (parallel per
    * group, dominant groups auto-escalate to the two-phase distributed
    * rank) and one keyed join of the rows back onto their group's
    * 1-row median — never a global sort or broadcast of data. */
  def madByGroup(df: DataFrame, groupCol: String, valueCol: String,
      tieBreak: String,
      escalateGroupRows: Long = EscalateGroupRows): DataFrame = {
    val base = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__v"), col(tieBreak).as("__t"))
    // ONE routing decision serves both rank passes: the deviation rows
    // are exactly the value rows, group for group
    val bg = dominantGroups(base, escalateGroupRows)
    val (r1, c1) = rankWithinGroups(base, Seq("__v", "__t"), bg)
    val med0 = r1
      .groupBy("__g")
      .agg(max("__n").cast("long").as("n"),
        min(when(col("__rn") === expr("(__n + 1) div 2"), col("__v")))
          .as("median"))
    // escalated only: the deviation frame feeds both route branches of
    // pass 2, which would re-run pass 1's rank per branch — persist the
    // bounded median grid so pass 1 runs exactly once
    val med = if (bg.isEmpty) med0 else med0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dev = base.join(med, Seq("__g"))
      .withColumn("__d", abs(col("__v") - col("median")))
    val (r2, c2) = rankWithinGroups(dev, Seq("__d", "__v", "__t"), bg)
    val out = r2
      .groupBy("__g")
      .agg(max("n").as("n"), max("median").as("median"),
        min(when(col("__rn") === expr("(n + 1) div 2"), col("__d")))
          .as("mad"))
      .select(col("__g").as(groupCol), col("n"), col("median"),
        col("mad"))
    bg match {
      case None => out // no dominant group: no caches, no checkpoint
      case Some(b) =>
        Caching.materializeAndRelease(out,
          (Seq(b, med) ++ c1 ++ c2): _*)
    }
  }
}
