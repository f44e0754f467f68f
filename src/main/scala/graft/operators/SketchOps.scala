package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketch operators for corpus-scale statistics: count-min
  * sketches (heavy-hitter frequency estimation), HyperLogLog registers
  * (distinct counting), and per-group bottom-k set sketches (corpus-overlap
  * estimation between sources).
  *
  * Everything here is built to be exactly replayable by the DuckDB oracle:
  * the hash family is the same fnv1a64 -> splitmix64 chain as the MinHash
  * family ([[DedupOps.fnv1a64]]/[[DedupOps.splitmix64]]), bucket/register
  * derivation is pure integer arithmetic, and the HLL estimate is computed
  * with an integer fixed-point formula (no order-sensitive double sums), so
  * results are bit-identical at any partitioning and across engines.
  *
  * Scale design: a CMS is a fixed depth x width grid and an HLL is 2^p
  * registers — both are map-side-combinable aggregations whose reduce key
  * space is tiny (4k cells / 1k registers), so at 100 TB the only real
  * shuffle is the per-token pre-aggregation, which combines map-side to
  * at most the vocabulary size per partition. Bottom-k sketches reduce
  * each group to k values with a sharded two-phase top-k (no single-reducer
  * per-group sort).
  */
object SketchOps {

  private val Golden = 0x9e3779b97f4a7c15L

  /** Lowercased `[a-z0-9]+` tokens of `textCol`, one row per occurrence. */
  def tokens(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.alnumWords(col(textCol))).as("token"))

  // ----------------------------- count-min sketch --------------------------

  /** Row-`i` bucket of `token`: `splitmix64(fnv1a64(token) + i*GOLDEN)`
    * taken unsigned mod `width` — the same per-row hash family as MinHash
    * permutations, so the oracle replays it with the shared SQL chain. */
  private[graft] def cmsBucketsUdf(depth: Int, width: Int) = udf { token: String =>
    val base = DedupOps.fnv1a64(if (token == null) "" else token)
    Array.tabulate(depth) { i =>
      java.lang.Long.remainderUnsigned(
        DedupOps.splitmix64(base + i * Golden), width).toInt
    }
  }

  /** Per-token occurrence counts (`token`, `n`) — the one corpus-sized
    * shuffle every sketch here hangs off (map-side combined to vocab size
    * per partition). */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    tokens(docs, textCol).groupBy("token").agg(count(lit(1)).as("n"))

  /** The depth x width count-min grid (`i`, `bucket`, `cell`): cell =
    * total occurrences of every token whose row-i hash lands in `bucket`.
    * Reduce key space is depth*width (constant) — the grid aggregation is
    * effectively free after the token-count shuffle. */
  def countMinCells(
      counts: DataFrame, depth: Int = 4, width: Int = 1024): DataFrame =
    counts
      .select(col("n"),
        posexplode(cmsBucketsUdf(depth, width)(col("token")))
          .as(Seq("i", "bucket")))
      .groupBy("i", "bucket")
      .agg(sum("n").as("cell"))

  /** Heavy hitters with their CMS point estimates: the exact top-`topK`
    * tokens (count desc, token asc — fully deterministic) joined with
    * `min_i cell[i][h_i(token)]`, the classic count-min upper bound.
    * Output: (token, n_exact, n_est, overcount); CMS guarantees
    * n_est >= n_exact, overcount bounded by ~ depth collisions. */
  def cmsHeavyHitters(
      docs: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 1024, topK: Int = 20): DataFrame = {
    val counts = tokenCounts(docs, textCol).persist()
    val cells = countMinCells(counts, depth, width)
    val top = counts.orderBy(desc("n"), asc("token")).limit(topK)
    val probes = top
      .select(col("token"), col("n"),
        posexplode(cmsBucketsUdf(depth, width)(col("token")))
          .as(Seq("i", "bucket")))
    // cells is at most depth*width rows -> broadcast to the probe side.
    probes
      .join(broadcast(cells), Seq("i", "bucket"))
      .groupBy("token", "n")
      .agg(min("cell").as("n_est"))
      .select(col("token"), col("n").as("n_exact"), col("n_est"),
        (col("n_est") - col("n")).as("overcount"))
  }

  // ------------------------------ HyperLogLog ------------------------------

  /** (register, rho) of a token under HLL with 2^p registers: register =
    * top p bits of splitmix64(fnv1a64(token)); rho = position of the first
    * set bit in the low 32-bit window (1-based from the MSB), 33 if the
    * window is all zeros. The 32-bit window keeps the oracle's
    * `length(bin(w))` replay integer-exact. */
  private[graft] def hllRegUdf(p: Int) = udf { token: String =>
    val h = DedupOps.splitmix64(
      DedupOps.fnv1a64(if (token == null) "" else token))
    val reg = (h >>> (64 - p)).toInt
    val w = h & 0xffffffffL
    val rho = if (w == 0L) 33 else 33 - (64 - java.lang.Long.numberOfLeadingZeros(w))
    (reg, rho)
  }

  /** Fixed-point alpha_m * 2^30 for the raw HLL estimator — computed from
    * the published constant formula; interpolated as the same integer
    * literal into the oracle SQL. */
  def hllAlphaQ(p: Int): Long = {
    val m = 1L << p
    math.floor(0.7213 / (1.0 + 1.079 / m) * (1L << 30)).toLong
  }

  /** HLL register table (`reg`, `mrho`, `n_toks`, `n_types`): max rho per
    * register, plus the token mass that hashed there (the extra columns let
    * one aggregation chain serve both the sketch and the exact-count
    * cross-check — no plan reuse needed). */
  def hllRegisters(counts: DataFrame, p: Int = 10): DataFrame =
    counts
      .select(col("n"), hllRegUdf(p)(col("token")).as("rr"))
      .select(col("n"), col("rr._1").as("reg"), col("rr._2").as("rho"))
      .groupBy("reg")
      .agg(max("rho").as("mrho"), sum("n").as("n_toks"),
        count(lit(1)).as("n_types"))

  /** One-row HLL distinct-count summary over the token stream of `textCol`:
    * (n_tokens, n_distinct, v_zero, s_q, est_q, err_permille).
    *
    * The harmonic denominator is exact-rational: S = sum over all m
    * registers of 2^(33 - M_j) (empty register -> 2^33), an integer; the
    * raw estimate alpha_m * m^2 / sum(2^-M_j) then reduces to
    * `(alphaQ * m * m * 8) div S` in 64-bit integers (2^33/2^30 = 8) —
    * deterministic across engines, partitionings and sum orders, unlike
    * the usual floating-point harmonic mean. `n_distinct` is the exact
    * answer computed off the same single aggregation chain for
    * side-by-side accuracy reporting (err_permille = |est-exact|*1000/exact).
    */
  def hllSummary(docs: DataFrame, textCol: String, p: Int = 10): DataFrame = {
    val m = 1L << p
    val regs = hllRegisters(tokenCounts(docs, textCol), p)
    regs.agg(
      sum("n_toks").as("n_tokens"),
      sum("n_types").as("n_distinct"),
      (lit(m) - count(lit(1))).as("v_zero"),
      ((lit(m) - count(lit(1))) * lit(1L << 33) +
        sum(expr("shiftleft(1L, 33 - mrho)"))).as("s_q"))
      .select(col("n_tokens"), col("n_distinct"), col("v_zero"), col("s_q"),
        expr(s"(${hllAlphaQ(p)}L * $m * $m * 8) div s_q").as("est_q"))
      .withColumn("err_permille",
        expr("abs(est_q - n_distinct) * 1000 div n_distinct"))
  }

  /** Per-group HLL summaries — the deterministic, oracle-exact analog of
    * `approx_count_distinct(...) GROUP BY`: one row per `groupCol` value
    * with the same integer-exact estimator as [[hllSummary]]. State per
    * group is 2^p registers; the whole thing is two map-side-combinable
    * aggregations keyed by (group, token) then (group, register). */
  def hllSummaryByGroup(
      docs: DataFrame, groupCol: String, textCol: String,
      p: Int = 10): DataFrame = {
    val m = 1L << p
    val counts = docs
      .select(col(groupCol).as("g"), explode(TextOps.alnumWords(col(textCol))).as("token"))
      .groupBy("g", "token").agg(count(lit(1)).as("n"))
    counts
      .select(col("g"), col("n"), hllRegUdf(p)(col("token")).as("rr"))
      .select(col("g"), col("n"), col("rr._1").as("reg"), col("rr._2").as("rho"))
      .groupBy("g", "reg")
      .agg(max("rho").as("mrho"), sum("n").as("n_toks"),
        count(lit(1)).as("n_types"))
      .groupBy("g")
      .agg(
        sum("n_toks").as("n_tokens"),
        sum("n_types").as("n_distinct"),
        (lit(m) - count(lit(1))).as("v_zero"),
        ((lit(m) - count(lit(1))) * lit(1L << 33) +
          sum(expr("shiftleft(1L, 33 - mrho)"))).as("s_q"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_distinct"),
        col("v_zero"), col("s_q"),
        expr(s"(${hllAlphaQ(p)}L * $m * $m * 8) div s_q").as("est_q"))
      .withColumn("err_permille",
        expr("abs(est_q - n_distinct) * 1000 div n_distinct"))
  }

  // ------------------------ equi-width histogram sketch --------------------

  /** Bin index of `valueCol` (a double, quantized to cents — the house
    * exactness trick) over [loCents, hiCents) split into `bins` equal
    * cells: -1 underflow, `bins` overflow, else (c - lo) * bins div span
    * — pure integer arithmetic, engine-exact. */
  def histogramBin(valueCol: String, loCents: Long, hiCents: Long,
      bins: Int): Column = {
    val span = hiCents - loCents
    val c = s"CAST(floor($valueCol * 100 + 0.5) AS BIGINT)"
    expr(s"""CASE WHEN $c < ${loCents}L THEN -1L
            |WHEN $c >= ${hiCents}L THEN ${bins}L
            |ELSE ($c - ${loCents}L) * $bins div ${span}L END""".stripMargin)
  }

  /** Per-group equi-width histogram of a double value column:
    * (groupCol, bin, n). State is groups x (bins+2) cells — constant,
    * mergeable (counts add), map-side combinable; the streaming twin
    * [[graft.streaming.EventStreams.streamingHistogram]] maintains the
    * same cells as a plain streaming aggregation. This is the quantile
    * primitive for when exact per-group sorts ([[Quantiles]]) are too
    * expensive — resolution is a bin width, never a data pass. */
  def histogramSketch(df: DataFrame, groupCol: String, valueCol: String,
      loCents: Long, hiCents: Long, bins: Int): DataFrame =
    df.select(col(groupCol),
        histogramBin(valueCol, loCents, hiCents, bins).as("bin"))
      .groupBy(groupCol, "bin")
      .agg(count(lit(1)).as("n"))

  /** Percentile estimates off histogram cells: for each permille p, the
    * smallest bin whose cumulative count reaches ceil(p/1000 * total),
    * with the bin's left edge in cents. The cumulative window partitions
    * by group over at most bins+2 rows — never a data-sized sort.
    * Output: (groupCol, p_permille, bin, est_cents, n_total). */
  def histogramPercentiles(cells: DataFrame, groupCol: String,
      psPermille: Seq[Int], loCents: Long, hiCents: Long,
      bins: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy("bin")
    val span = hiCents - loCents
    val cum = cells.withColumn("n_cum", sum("n").over(w))
    val tot = cells.groupBy(groupCol).agg(sum("n").as("n_total"))
    cum.join(tot, groupCol)
      .select(col(groupCol), col("bin"), col("n_cum"), col("n_total"),
        explode(typedLit(psPermille)).as("p_permille"))
      .filter(col("n_cum") * 1000 >= col("p_permille") * col("n_total"))
      .groupBy(groupCol, "p_permille")
      .agg(min("bin").as("bin"), max("n_total").as("n_total"))
      .select(col(groupCol), col("p_permille"), col("bin"),
        (lit(loCents) + expr(s"bin * ${span}L div $bins")).as("est_cents"),
        col("n_total"))
  }

  // -------------------------- bottom-k set sketches ------------------------

  private def shinglesUdf(n: Int) = udf { text: String =>
    DedupOps.shingles(if (text == null) "" else text, n)
  }

  private val shingleHash = udf { sh: String =>
    DedupOps.splitmix64(DedupOps.fnv1a64(sh))
  }

  /** Bottom-k sketch of each group's word-shingle SET: the k smallest
    * distinct signed shingle hashes per `groupCol`, ranked ascending.
    * Output: (`groupCol`, h, r) with r in [1, k].
    *
    * Scale path: the distinct is keyed (group, h) — corpus-wide but
    * map-side combinable; the per-group k-smallest then runs in two
    * phases (64 hash shards, bottom-k per shard, bottom-k of the <=64k
    * survivors) so a giant group never serializes through one reducer's
    * full sort. */
  def bottomKSketch(
      docs: DataFrame, groupCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 256): DataFrame = {
    val grp = col(groupCol)
    val hashed = docs
      .select(grp, explode(shinglesUdf(shingleN)(col(textCol))).as("sh"))
      .select(grp, shingleHash(col("sh")).as("h"))
      .distinct()
    val shard = pmod(col("h"), lit(64L))
    val phase1 = hashed
      .withColumn("r1", row_number().over(
        Window.partitionBy(grp, shard).orderBy(col("h"))))
      .filter(col("r1") <= k)
    phase1
      .withColumn("r", row_number().over(
        Window.partitionBy(grp).orderBy(col("h"))))
      .filter(col("r") <= k)
      .select(grp, col("h"), col("r"))
  }

  /** Pairwise set-overlap estimates from bottom-k sketches: for each group
    * pair (a < b), rank the UNION of the two sketches, keep its k smallest
    * hashes, and count how many appear in both — the standard unbiased
    * bottom-k Jaccard estimator |bottomk(A u B) n A n B| / k. Runs entirely
    * on sketch rows (|groups| * k), never on the corpus. Output:
    * (grp_a, grp_b, k_used, n_shared, est_jaccard) with est = int/int
    * division (exact IEEE both engines).
    *
    * The group-pair list is enumerated on the driver (bounded collect: the
    * output is |G|^2/2 rows BY CONTRACT, so |G| must be small — a few
    * thousand sources at most) and each pair is exploded to its two member
    * groups, making the sketch lookup a plain hash equi-join on g. The
    * earlier `g === grp_a || g === grp_b` formulation planned as a
    * BroadcastNestedLoopJoin over every (pair, sketch-row) combination. */
  def sketchOverlap(sketches: DataFrame, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val grpCol = sketches.columns.head
    // persisted: referenced twice (group list + pair join) — without it the
    // whole upstream sketch pipeline (distinct + two window phases) would
    // execute once per reference (seen in the q94 physical plan)
    val sk = sketches.select(col(grpCol).as("g"), col("h")).persist()
    val spark = sketches.sparkSession
    // ascending Spark sort order, so vals(i) < vals(j) iff i < j; null
    // groups are excluded (they never satisfied `<` in the join form either)
    val vals = sk.select("g").distinct().filter(col("g").isNotNull)
      .orderBy("g").collect().map(_.get(0))
    val gType = sk.schema("g").dataType
    val pairRows = new java.util.ArrayList[Row](vals.length * vals.length / 2)
    var i = 0
    while (i < vals.length) {
      var j = i + 1
      while (j < vals.length) { pairRows.add(Row(vals(i), vals(j))); j += 1 }
      i += 1
    }
    val pairSchema = new StructType()
      .add("grp_a", gType, nullable = false).add("grp_b", gType, nullable = false)
    spark.createDataFrame(pairRows, pairSchema)
      .select(col("grp_a"), col("grp_b"),
        explode(array(col("grp_a"), col("grp_b"))).as("g"))
      .join(sk, "g")
      .groupBy("grp_a", "grp_b", "h")
      .agg((count(lit(1)) === 2).as("in_both"))
      .withColumn("r", row_number().over(
        Window.partitionBy("grp_a", "grp_b").orderBy(col("h"))))
      .filter(col("r") <= k)
      .groupBy("grp_a", "grp_b")
      .agg(count(lit(1)).as("k_used"),
        sum(when(col("in_both"), 1L).otherwise(0L)).as("n_shared"))
      .withColumn("est_jaccard", col("n_shared") / col("k_used"))
  }
}
