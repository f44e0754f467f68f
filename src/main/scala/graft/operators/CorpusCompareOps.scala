package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-comparison diagnostics for mixture design: what does each
  * source contribute after dedup, how similar are two sources' token
  * distributions, and which features discriminate sources — the three
  * questions a training-data curator asks before setting mixture weights.
  *
  * All three follow the house exactness contract: corpus-scale work is a
  * single map-side-combined aggregation whose key space is bounded
  * (sources, sources x buckets, or the dedup fingerprint set); everything
  * downstream runs on bounded tables and either stays in integer
  * arithmetic or makes exactly ONE deterministic float conversion chain
  * per output value, so DuckDB replays every row bit-for-bit.
  */
object CorpusCompareOps {

  private def bucketOf(c: Column, buckets: Int) =
    pmod(graft.functions.GraftFunctions.fnv1a64(c), lit(buckets.toLong))

  /** Per-source novelty attribution under an ordered ingestion (sources
    * processed in ascending name order): how many of a source's documents
    * are exact-duplicate-novel — their normalized-text fingerprint
    * ([[TextOps.fingerprint]]) first appears in THIS source and not in
    * any earlier one. The "what did this crawl actually add?" report that
    * prices a source's marginal value after global exact dedup.
    *
    * Output: (source, n_docs, n_distinct, n_novel, novelty_rate) with
    * n_distinct = distinct fingerprints inside the source (internal-dup
    * shrinkage), n_novel = fingerprints whose alphabetically-first source
    * is this one, novelty_rate = n_novel / n_docs in IEEE double (one
    * division — deterministic).
    *
    * Scale: one (source, fp) projection feeds a per-source count, a
    * distinct, and a min-source aggregation — three shuffles, each on the
    * reduced projection, never on text; the three per-source summaries
    * are broadcast-joined (rows = |sources|). */
  def sourceNovelty(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val sfp = docs.select(col(sourceCol).as("source"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    val nDocs = sfp.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val pairs = sfp.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDistinct = pairs.groupBy("source")
      .agg(count(lit(1)).as("n_distinct"))
    val nNovel = pairs.groupBy("fp").agg(min("source").as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
    nDocs.join(broadcast(nDistinct), Seq("source"), "left")
      .join(broadcast(nNovel), Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_docs").cast("double")).as("novelty_rate"))
  }

  /** Exact pairwise cross-source duplication matrix: for every source
    * pair, how many distinct exact-duplicate fingerprints
    * ([[TextOps.fingerprint]]) the two share, with the Jaccard overlap in
    * integer permille. The EXACT complement of the bottom-k sketch
    * overlap estimate (q94): run the sketch at corpus scale to find the
    * suspicious pairs, then this on the candidates when the pair decision
    * (drop a mirrored crawl, re-weight a source) needs the true number.
    * Zero-overlap pairs are reported too — the grid is completed from
    * the bounded per-source totals, so "these crawls are disjoint" is a
    * visible answer, not a missing row.
    *
    * Output: (src_a, src_b, n_a, n_b, n_shared, jaccard_permille) for
    * src_a < src_b; all counts over DISTINCT fingerprints, permille by
    * integer division (engine-exact). Rows with a NULL source are
    * EXCLUDED up front (a null can never appear in the grid).
    *
    * The fingerprint is fnv1a64 of the [[TextOps.fingerprint]]
    * normalization (lowercase, whitespace collapsed) — a LONG, not an
    * md5 hex string, so the distinct and the self-join shuffle 8-byte
    * keys instead of 32-char strings (the "hash shingles to longs at
    * shingle time" convention of the n-gram joins). 64-bit collisions
    * only perturb COUNTS (never correctness of the pair grid): at 1e12
    * distinct units expect ~30k collisions — a 1e-8 relative error on
    * shared counts, irrelevant to a dedup decision.
    *
    * Scale: one (source, fp) distinct (plan-owned cache — both the totals
    * and the self-join read it), then a self-equi-join ON fp whose per-key
    * fanout is bounded by |sources|^2 — never all-pairs over docs; the
    * pair grid and the shared-count join are broadcasts over
    * |sources|^2-row tables. Sources must be bounded (panel of crawls,
    * not a per-domain explosion) — the same contract as
    * [[sourceSimilarity]]. */
  def sourceOverlapExact(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    // NULL sources are excluded EXPLICITLY: a null would be hashed and
    // shuffled but fail both src_a < src_b filters, vanishing from the
    // grid — and "missing from the grid" must never be mistakable for
    // "disjoint". Rows with a null source simply don't participate.
    val nonNull = docs.filter(col(sourceCol).isNotNull)
    val pairs = nonNull.select(col(sourceCol).as("source"),
      graft.functions.GraftFunctions.fnv1a64(
        TextOps.normalizedText(col(textCol))).as("fp"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = pairs.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = pairs.select(col("source").as("src_a"), col("fp"))
      .join(pairs.select(col("source").as("src_b"), col("fp")), Seq("fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    val grid = totals.select(col("source").as("src_a"), col("n").as("n_a"))
      .crossJoin(totals.select(col("source").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    grid.join(broadcast(shared), Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("jaccard_permille", expr(
        "n_shared * 1000L div (n_a + n_b - n_shared)"))
  }

  /** Pairwise source similarity: cosine between the sources' hashed
    * unigram count vectors (the cheap stand-in for "are these two crawls
    * the same distribution?" when weighting a mixture). Dot products and
    * norms accumulate in DECIMAL(38,0) (DuckDB HUGEINT) — sum(c*c) wraps
    * LONG near 3e9-token sources, the momentsTable lesson — and each
    * cosine is one deterministic conversion chain
    * `dot / (sqrt(na) * sqrt(nb))` over exactly-converted doubles.
    *
    * Output: (src_a, src_b, n_shared_buckets, cosine) for src_a < src_b.
    *
    * Scale: ONE corpus aggregation to (source, bucket) counts (map-side
    * combined, key space |sources| x buckets); the pair join is a
    * broadcast equi-join on bucket over that bounded table — intermediate
    * rows <= buckets x |sources|^2, independent of corpus size. */
  def sourceSimilarity(docs: DataFrame, textCol: String, sourceCol: String,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"bad buckets: $buckets")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val counts = docs
      .select(col(sourceCol).as("source"), explode(TextOps.alnumWords(col(textCol))).as("tok"))
      .select(col("source"), bucketOf(col("tok"), buckets).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = counts.groupBy("source")
      .agg(sum(col("c").cast(dec) * col("c").cast(dec)).cast(dec).as("nrm"))
    val pairs = counts.select(col("source").as("src_a"), col("b"),
        col("c").as("ca"))
      .join(broadcast(counts.select(col("source").as("src_b"), col("b"),
        col("c").as("cb"))), "b")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(col("ca").cast(dec) * col("cb").cast(dec)).cast(dec)
          .as("dot"),
        count(lit(1)).as("n_shared_buckets"))
    pairs
      .join(broadcast(norms.select(col("source").as("src_a"),
        col("nrm").as("na"))), "src_a")
      .join(broadcast(norms.select(col("source").as("src_b"),
        col("nrm").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared_buckets"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"))
  }

  /** Chi-square association between hashed token buckets and a label
    * (source, language, quality tier): the classic feature-selection
    * scan — "which vocabulary regions are most label-discriminative" —
    * that seeds routing-classifier features and flags contaminated-label
    * sources. Every (label, bucket) cell of the FULL grid (absent
    * observations count as o = 0) contributes
    * floor((o - e)^2 / e * 1e6 + 0.5) with e = rowTot*colTot/N computed
    * in one fixed double chain; the per-bucket statistic is then an exact
    * LONG sum of those quanta, so ranking and values replay bit-for-bit.
    *
    * Output: top-`k` buckets as (b, chi2_q) ordered (chi2_q DESC, b).
    *
    * Scale: one corpus aggregation to the (label, bucket) grid (bounded
    * key space); the zero-cell completion is a |labels| x buckets cross
    * join of two broadcast totals tables; top-k is TakeOrdered. */
  def chiSquareFeatures(docs: DataFrame, labelCol: String, textCol: String,
      buckets: Int = 4096, k: Int = 50): DataFrame = {
    require(buckets > 0 && k > 0)
    val obs = docs
      .select(col(labelCol).as("label"), explode(TextOps.alnumWords(col(textCol))).as("tok"))
      .select(col("label"), bucketOf(col("tok"), buckets).as("b"))
      .groupBy("label", "b").agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rowTot = obs.groupBy("label").agg(sum("o").as("rt"))
    val colTot = obs.groupBy("b").agg(sum("o").as("ct"))
    val n = obs.agg(sum("o").as("n"))
    val grid = broadcast(rowTot).crossJoin(broadcast(colTot))
      .crossJoin(broadcast(n))
      .join(obs, Seq("label", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val d = col("o").cast("double") - e
    val contrib = floor(d * d / e * lit(1e6) + lit(0.5)).cast("long")
    grid.select(col("b"), contrib.as("cq"))
      .groupBy("b").agg(sum("cq").as("chi2_q"))
      .orderBy(col("chi2_q").desc, col("b"))
      .limit(k)
  }

  /** Bucket counts for [[psiFromCounts]]: one map-side-combined count of
    * `df` rows per `bucketCol` value, split by the boolean `sideCol`
    * (false = reference, true = current). Counts add, so this also runs
    * as a streaming complete-mode aggregation
    * ([[graft.streaming.EventStreams.streamingPsiCounts]] keeps only the
    * current side on the stream). */
  def psiCounts(df: DataFrame, sideCol: String,
      bucketCol: String): DataFrame =
    df.groupBy(col(bucketCol).as("b"))
      .agg(sum(when(!col(sideCol), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col(sideCol), 1L).otherwise(0L)).as("n_cur"))

  /** Population Stability Index per bucket — the industry-standard
    * distribution-drift score between a reference slice and a current
    * slice: PSI = sum_i (p_i - q_i) ln(p_i / q_i), flagged at ~0.1
    * (moderate) / 0.25 (major) drift. `ref`/`cur` carry (b, n_ref) /
    * (b, n_cur); buckets are full-outer joined and +1-smoothed on BOTH
    * sides over the union support, so ln stays finite with zero-count
    * buckets and the report is deterministic. Per-bucket contribution is
    * quantized at 1e7 after ONE fixed double chain (the [[TextOps
    * .bm25Scores]] ln precedent), so DuckDB replays it bit-for-bit.
    *
    * Scale: everything downstream of the corpus count runs on the
    * BOUNDED bucket grid. Output: (b, n_ref, n_cur, psi_q) — total PSI =
    * sum(psi_q)/1e7. */
  def psiFromCounts(ref: DataFrame, cur: DataFrame): DataFrame =
    psiMath(ref.select(col("b"), col("n_ref"))
      .join(cur.select(col("b"), col("n_cur")), Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur")))

  /** PSI drift report from raw rows: [[psiCounts]] + the PSI math in one
    * call (sideCol true = current slice); no self-join — the one count
    * grid already carries both sides. */
  def psiReport(df: DataFrame, sideCol: String,
      bucketCol: String): DataFrame =
    psiMath(psiCounts(df, sideCol, bucketCol))

  private def psiMath(grid: DataFrame): DataFrame = {
    val tot = grid.agg(sum("n_ref").as("__tr"), sum("n_cur").as("__tc"),
      count(lit(1)).as("__nb"))
    val p = (col("n_ref") + lit(1)).cast("double") /
      (col("__tr") + col("__nb")).cast("double")
    val q = (col("n_cur") + lit(1)).cast("double") /
      (col("__tc") + col("__nb")).cast("double")
    grid.crossJoin(broadcast(tot))
      .select(col("b"), col("n_ref"), col("n_cur"),
        floor((p - q) * log(p / q) * lit(1e7) + lit(0.5)).cast("long")
          .as("psi_q"))
  }
}
