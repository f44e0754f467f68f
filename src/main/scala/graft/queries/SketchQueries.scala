package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{AssociationOps, ClusteringOps, GraphOps, MultimodalOps, SamplingOps, SketchOps, TextOps, TokenizerOps}
import HashOracleSql.{fnv1a64, goldenU, splitmixCtes}

/** Sketch + graph analytics queries (q91+): count-min heavy hitters,
  * HyperLogLog distinct counting, integer PageRank over the co-purchase
  * graph, and bottom-k corpus-overlap sketches. Every query carries a full
  * DuckDB oracle — the sketches are deterministic (shared fnv1a64/splitmix64
  * hash family, integer-only estimators), so even the "approximate"
  * estimates hash-match bit-for-bit. */
object SketchQueries extends QuerySet {

  private val tokCte =
    """toks AS (
      |  SELECT unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
      |  FROM documents)""".stripMargin

  /** One unrolled integer-PageRank iteration (DuckDB): messages keyed by
    * dst, then teleport + damped sum with the exact 17/20 rational. */
  private def prIter(i: Int): String =
    s"""m$i AS (
       |  SELECT p.dst AS node, sum(r.rank // d.deg) AS s
       |  FROM pairs p JOIN r${i - 1} r ON p.src = r.node
       |  JOIN outdeg d ON d.src = p.src
       |  GROUP BY p.dst),
       |r$i AS (
       |  SELECT n.node,
       |    CAST(150000000 + (17 * coalesce(m.s, 0)) // 20 AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN m$i m ON n.node = m.node)""".stripMargin

  /** One unrolled integer-HITS iteration (DuckDB): authority sums from
    * the previous hub vector, renormalized to the fixed 1e12 mass by
    * HUGEINT floor division, then the hub half-step from the fresh
    * authority vector — mirrors GraphOps.hits's DECIMAL(38,0)
    * remainder-exact recurrence bit-for-bit. */
  private def hitsIter(i: Int): String =
    s"""ar$i AS (SELECT e.dst AS node, CAST(sum(h.s) AS HUGEINT) AS raw
       |  FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
       |at$i AS (SELECT sum(raw) AS tot FROM ar$i),
       |a$i AS (SELECT node,
       |  CAST(raw * 1000000000000 // tot AS BIGINT) AS s
       |  FROM ar$i CROSS JOIN at$i),
       |hr$i AS (SELECT e.src AS node, CAST(sum(a.s) AS HUGEINT) AS raw
       |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
       |ht$i AS (SELECT sum(raw) AS tot FROM hr$i),
       |h$i AS (SELECT node,
       |  CAST(raw * 1000000000000 // tot AS BIGINT) AS s
       |  FROM hr$i CROSS JOIN ht$i)""".stripMargin

  /** One unrolled deterministic-LPA round (DuckDB): neighbor-label
    * counts, then the (count DESC, label ASC) argmax per node — mirrors
    * GraphOps.labelPropagation value-for-value. */
  private def lpaRound(i: Int): String =
    s"""c$i AS (
       |  SELECT p.src, l.lbl, CAST(count(*) AS BIGINT) AS c
       |  FROM pairs p JOIN l${i - 1} l ON p.dst = l.node
       |  GROUP BY 1, 2),
       |l$i AS MATERIALIZED (
       |  SELECT src AS node, lbl FROM (
       |    SELECT src, lbl, row_number() OVER (
       |        PARTITION BY src ORDER BY c DESC, lbl) AS rn
       |    FROM c$i) WHERE rn = 1)""".stripMargin

  /** Deterministic BMP corpus with planted near-duplicates: docs with
    * doc_id % 4 == 1 re-encode their predecessor's pixels shifted +3 in
    * brightness (dHash-invariant), everything else is unique. The same
    * pixel formula replays in SQL, and the REAL Bmp encode->decode round
    * trip sits in the middle — same proof shape as q52. */
  private def dhashMediaUdf = udf { id: Long =>
    val eid = if (id % 4 == 1) id - 1 else id
    val shift = if (id % 4 == 1) 3 else 0
    val w = (16 + eid % 9).toInt
    val h = (16 + eid % 7).toInt
    val px = Array.tabulate(w * h)(i => ((eid * 31 + i * 7) % 250 + shift).toInt)
    graft.sources.Bmp.encode(w, h, px)
  }

  /** DuckDB replay of pixel-gen -> 9x8 box-average -> dHash bit packing
    * (CTE `dh(media_id, dhash, hu)`): pure integer floor arithmetic,
    * bit-exact vs [[MultimodalOps.dhashOf]] over the decoded image. */
  private val dhashCtes: String =
    """ids AS (SELECT doc_id,
      |    doc_id - CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS eid,
      |    CASE WHEN doc_id % 4 = 1 THEN 3 ELSE 0 END AS shift
      |  FROM documents),
      |dims AS (SELECT doc_id, eid, shift,
      |    CAST(16 + eid % 9 AS BIGINT) AS w, CAST(16 + eid % 7 AS BIGINT) AS h
      |  FROM ids),
      |px AS (SELECT doc_id, w, h, shift, eid,
      |    unnest(generate_series(0, w * h - 1)) AS i
      |  FROM dims),
      |pg AS (SELECT doc_id, (i // w) * 8 // h AS br, (i % w) * 9 // w AS bc,
      |    (eid * 31 + i * 7) % 250 + shift AS g
      |  FROM px),
      |cells AS (SELECT doc_id, br, bc,
      |    CAST(sum(g) // count(*) AS BIGINT) AS cell
      |  FROM pg GROUP BY doc_id, br, bc),
      |bits AS (SELECT a.doc_id, a.br, a.bc,
      |    CASE WHEN a.cell > b.cell THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.br = b.br AND b.bc = a.bc + 1),
      |hsh AS (SELECT doc_id AS media_id,
      |    CAST(sum(CASE WHEN bit = 1
      |      THEN (1::UBIGINT << (br * 8 + bc))::HUGEINT
      |      ELSE 0::HUGEINT END) AS HUGEINT) AS hu
      |  FROM bits GROUP BY doc_id),
      |dh AS (SELECT media_id,
      |    CASE WHEN hu >= 9223372036854775808::HUGEINT
      |         THEN (hu - 18446744073709551616::HUGEINT)::BIGINT
      |         ELSE hu::BIGINT END AS dhash,
      |    hu::UBIGINT AS hu
      |  FROM hsh)""".stripMargin

  /** One unrolled fixed-point power-iteration step (DuckDB): w = G v,
    * then renormalize by max|w| / 2^16 — both divisions TRUNCATE toward
    * zero (DuckDB `//` semantics, verified -121 // 50 = -2), matching
    * [[ClusteringOps.powerIteration]]'s Scala Long division exactly.
    * MATERIALIZED is load-bearing: each w$k is referenced twice (main
    * scan + the max-abs scalar subquery), and with DuckDB's default CTE
    * inlining the doubly-referenced chain re-evaluates the whole upstream
    * pipeline per reference — 2^iters blowup. */
  private def pcaIter(k: Int): String =
    s"""w$k AS MATERIALIZED (SELECT g.ia AS i, sum(g.gv * v.v) AS w
       |  FROM g JOIN v${k - 1} v ON g.ib = v.i GROUP BY g.ia),
       |v$k AS (SELECT i,
       |  CAST(w // greatest((SELECT max(abs(w)) FROM w$k) // 65536, 1)
       |    AS BIGINT) AS v
       |  FROM w$k)""".stripMargin

  /** One unrolled BPE merge round (DuckDB): weighted adjacent-pair counts
    * over the symbolized vocabulary, the (count DESC, a, b) argmax, then
    * the doubled-separator canonical-greedy `replace` application
    * (double spaces -> replace ' a  b ' with ' ab ' -> collapse) — with
    * two-space boundaries consecutive matches never overlap, so one
    * replace-all pass IS leftmost-greedy BPE, identically in DuckDB and
    * Spark (see [[graft.operators.TokenizerOps.mergeSql]]). */
  private def bpeRound(i: Int): String =
    s"""p$i AS MATERIALIZED (SELECT a, b, CAST(sum(n) AS BIGINT) AS c FROM (
       |    SELECT list_extract(s, ix) AS a, list_extract(s, ix + 1) AS b, n
       |    FROM (SELECT s, n, unnest(range(1, len(s))) AS ix FROM
       |      (SELECT string_split(trim(sym), ' ') AS s, n FROM v${i - 1})))
       |  GROUP BY a, b),
       |b$i AS MATERIALIZED (SELECT a, b, c,
       |    ' ' || a || '  ' || b || ' ' AS pat, ' ' || a || b || ' ' AS rep
       |  FROM p$i ORDER BY c DESC, a, b LIMIT 1),
       |v$i AS MATERIALIZED (SELECT word,
       |    replace(replace(replace(sym, ' ', '  '),
       |      (SELECT pat FROM b$i), (SELECT rep FROM b$i)),
       |      '  ', ' ') AS sym, n
       |  FROM v${i - 1})""".stripMargin

  /** Shared BPE oracle prelude: word histogram + sentinel-spaced symbol
    * strings (' h e l l o '). */
  private val bpePrelude =
    s"""words AS MATERIALIZED (SELECT token AS word,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM toks GROUP BY token),
       |v0 AS MATERIALIZED (SELECT word,
       |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS sym, n
       |  FROM words)""".stripMargin

  /** One unrolled batch-perceptron step (DuckDB): predict with the
    * previous weights (sign of the long dot product), then add the exact
    * integer update sums — mirrors ClusteringOps.perceptronTrain
    * value-for-value. p$i is MATERIALIZED: it feeds both the update and
    * the pocket accuracy of w${i-1}. */
  private def perceptronPred(i: Int, w: String): String =
    s"""p$i AS MATERIALIZED (SELECT y, f_words, f_chars, f_mwl,
       |    CASE WHEN (SELECT b FROM $w) + (SELECT w1 FROM $w) * f_words
       |      + (SELECT w2 FROM $w) * f_chars
       |      + (SELECT w3 FROM $w) * f_mwl > 0
       |      THEN 1 ELSE 0 END AS pred
       |  FROM feats)""".stripMargin

  private def perceptronIter(i: Int): String = {
    val p = s"w${i - 1}"
    s"""${perceptronPred(i, p)},
       |w$i AS MATERIALIZED (SELECT
       |    (SELECT b FROM $p) + CAST(sum(y - pred) AS BIGINT) AS b,
       |    (SELECT w1 FROM $p)
       |      + CAST(sum((y - pred) * f_words) AS BIGINT) AS w1,
       |    (SELECT w2 FROM $p)
       |      + CAST(sum((y - pred) * f_chars) AS BIGINT) AS w2,
       |    (SELECT w3 FROM $p)
       |      + CAST(sum((y - pred) * f_mwl) AS BIGINT) AS w3
       |  FROM p$i)""".stripMargin
  }

  /** Pocket-selected weight column: the iteration whose scored weights
    * won (accuracy DESC, iteration ASC). */
  private def pocketCase(colName: String, iters: Int): String =
    s"CASE (SELECT i FROM best) " + (0 to iters).map(j =>
      s"WHEN $j THEN (SELECT $colName FROM w$j)").mkString(" ") + " END"

  /** Update count for q117 — one constant drives the Spark loop and the
    * unrolled oracle. 12 suffices: the pocket winner lands by iteration
    * 11 at both sf0.01 and sf0.1 (measured), and each extra iteration is
    * a full corpus aggregation. */
  private val PerceptronIters = 12

  /** One unrolled k-core peel round (DuckDB): recompute degrees on the
    * surviving edge set, keep nodes at or above the median threshold,
    * filter both endpoints. MATERIALIZED everywhere — every CTE here is
    * multiply referenced. */
  private def kcoreRound(i: Int): String =
    s"""k$i AS MATERIALIZED (SELECT src AS n FROM
       |    (SELECT src, count(*) AS dg FROM e${i - 1} GROUP BY src)
       |  WHERE dg >= (SELECT k FROM kv)),
       |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
       |  JOIN k$i a ON e.src = a.n JOIN k$i b ON e.dst = b.n)""".stripMargin

  def queries: Seq[Query] = Seq(

    // k-core peel of the co-purchase graph at the data-derived median
    // degree: 4 unrolled rounds of "drop nodes below k", exact median
    // with a deterministic (deg, node) tie-break, residual degrees out.
    Query("q103_kcore",
      (s, dir) => GraphOps.kCoreByMedianDegree(
        GraphOps.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        rounds = 4),
      Some(s"""WITH e0 AS MATERIALIZED (
          |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |d0 AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
          |  FROM e0 GROUP BY src),
          |kv AS MATERIALIZED (SELECT deg AS k FROM
          |    (SELECT deg, row_number() OVER (ORDER BY deg, src) AS rn FROM d0)
          |  WHERE rn = (SELECT (count(*) + 1) // 2 FROM d0)),
          |${(1 to 4).map(kcoreRound).mkString(",\n")}
          |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg_residual,
          |  (SELECT k FROM kv) AS k_threshold
          |FROM e4 GROUP BY src""".stripMargin)),

    // Count-min sketch heavy hitters: exact top-20 tokens joined with
    // their CMS point estimates (min over 4 rows of a 4x1024 grid). The
    // estimate is a guaranteed upper bound; `overcount` shows the
    // collision error the sketch actually incurred at this width.
    Query("q91_cms_heavy_hitters",
      (s, dir) => SketchOps.cmsHeavyHitters(
        t(s, dir, "documents"), "text", depth = 4, width = 1024, topK = 20),
      Some(s"""WITH $tokCte,
          |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n
          |        FROM toks GROUP BY token),
          |hb AS (SELECT token, n, ${fnv1a64("token")} AS fh FROM cnt),
          |x0 AS (SELECT token, n, i,
          |    ((fh::HUGEINT + ((i::HUGEINT + 1) * $goldenU::HUGEINT) % 18446744073709551616::HUGEINT)
          |     % 18446744073709551616::HUGEINT)::UBIGINT AS x
          |  FROM hb, unnest(generate_series(0, 3)) AS t(i)),
          |${splitmixCtes("x0", "token, n, i", "sm")},
          |bkt AS (SELECT token, n, i, (hu % 1024)::BIGINT AS bucket FROM sm),
          |cells AS (SELECT i, bucket, CAST(sum(n) AS BIGINT) AS cell
          |          FROM bkt GROUP BY i, bucket),
          |topk AS (SELECT token, n FROM cnt ORDER BY n DESC, token LIMIT 20)
          |SELECT t.token, t.n AS n_exact,
          |  CAST(min(c.cell) AS BIGINT) AS n_est,
          |  CAST(min(c.cell) - t.n AS BIGINT) AS overcount
          |FROM topk t JOIN bkt b ON b.token = t.token
          |JOIN cells c ON c.i = b.i AND c.bucket = b.bucket
          |GROUP BY t.token, t.n""".stripMargin)),

    // HyperLogLog distinct count, integer-exact estimator: 1024 registers,
    // harmonic denominator as the exact integer S = sum 2^(33-M_j), raw
    // estimate (alphaQ*m*m*8) div S — bit-identical across engines and
    // partitionings, with the exact distinct count alongside for the
    // accuracy report.
    Query("q92_hll_distinct",
      (s, dir) => SketchOps.hllSummary(t(s, dir, "documents"), "text", p = 10),
      Some(s"""WITH $tokCte,
          |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n
          |        FROM toks GROUP BY token),
          |hb AS (SELECT token, n, ${fnv1a64("token")} AS fh FROM cnt),
          |x0 AS (SELECT token, n,
          |    ((fh::HUGEINT + $goldenU::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT AS x
          |  FROM hb),
          |${splitmixCtes("x0", "token, n", "sm")},
          |rr AS (SELECT n, (hu >> 54)::BIGINT AS reg,
          |    CASE WHEN (hu & 4294967295::UBIGINT) = 0::UBIGINT THEN 33
          |         ELSE 33 - length(bin(hu & 4294967295::UBIGINT)) END AS rho
          |  FROM sm),
          |regs AS (SELECT reg, max(rho) AS mrho,
          |    CAST(sum(n) AS BIGINT) AS n_toks,
          |    CAST(count(*) AS BIGINT) AS n_types
          |  FROM rr GROUP BY reg),
          |agg AS (SELECT
          |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
          |    CAST(sum(n_types) AS BIGINT) AS n_distinct,
          |    1024 - CAST(count(*) AS BIGINT) AS v_zero,
          |    (1024 - CAST(count(*) AS BIGINT)) * 8589934592 +
          |      CAST(sum(1::BIGINT << (33 - mrho)) AS BIGINT) AS s_q
          |  FROM regs)
          |SELECT n_tokens, n_distinct, v_zero, s_q,
          |  CAST((${SketchOps.hllAlphaQ(10)}::BIGINT * 1024 * 1024 * 8) // s_q AS BIGINT) AS est_q,
          |  CAST(abs((${SketchOps.hllAlphaQ(10)}::BIGINT * 1024 * 1024 * 8) // s_q - n_distinct)
          |    * 1000 // n_distinct AS BIGINT) AS err_permille
          |FROM agg""".stripMargin)),

    // Integer PageRank over the part co-purchase graph (parts sharing an
    // order), 5 Pregel iterations, top-100 by centrality. Fixed-point
    // long arithmetic end to end, so the distributed loop and the oracle's
    // unrolled recursion agree exactly.
    Query("q93_copurchase_pagerank",
      (s, dir) => GraphOps.pageRankTopK(
        GraphOps.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        iters = 5, k = 100),
      Some(s"""WITH pairs AS (
          |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |nodes AS (SELECT DISTINCT src AS node FROM pairs),
          |outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
          |           FROM pairs GROUP BY src),
          |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
          |${(1 to 5).map(prIter).mkString(",\n")}
          |SELECT node, rank AS rank_q FROM r5
          |ORDER BY rank_q DESC, node LIMIT 100""".stripMargin)),

    // Per-node triangle counts + clustering coefficient on the part
    // co-purchase graph: degree-ordered orientation (each edge points at
    // its higher-degree endpoint) bounds wedge enumeration to O(m^1.5);
    // the coefficient ships as an exact integer rational.
    Query("q98_triangle_counts",
      (s, dir) => GraphOps.triangleCounts(
        GraphOps.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey")),
      Some("""WITH pairs AS (
          |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM pairs),
          |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
          |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
          |  GROUP BY n),
          |o AS (SELECT
          |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
          |         THEN u.a ELSE u.b END AS s,
          |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
          |         THEN u.b ELSE u.a END AS d
          |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
          |wg AS (SELECT e1.s AS u, e1.d AS v, e2.d AS w
          |       FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.d < e2.d),
          |tri AS (SELECT u, v, w FROM wg
          |        JOIN und ON und.a = wg.v AND und.b = wg.w),
          |pn AS (SELECT n, CAST(count(*) AS BIGINT) AS n_triangles FROM (
          |    SELECT u AS n FROM tri UNION ALL SELECT v AS n FROM tri
          |    UNION ALL SELECT w AS n FROM tri)
          |  GROUP BY n)
          |SELECT d.n AS node,
          |  coalesce(pn.n_triangles, 0) AS n_triangles, d.deg,
          |  2 * coalesce(pn.n_triangles, 0) AS coeff_num,
          |  d.deg * (d.deg - 1) AS coeff_den
          |FROM deg d LEFT JOIN pn ON pn.n = d.n""".stripMargin)),

    // Corpus-overlap matrix between sources from bottom-k shingle
    // sketches: per source, the 256 smallest distinct shingle hashes; per
    // source pair, the standard bottom-k Jaccard estimator
    // |bottomk(A u B) n A n B| / k. The pairwise stage runs on sketch rows
    // only — the corpus is touched once, however many sources there are.
    Query("q94_source_overlap_sketch",
      (s, dir) => SketchOps.sketchOverlap(
        SketchOps.bottomKSketch(
          t(s, dir, "documents"), "source", "text", shingleN = 3, k = 256),
        k = 256),
      Some(s"""WITH toks AS (
          |  SELECT source, list_filter(
          |    string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
          |  FROM documents),
          |sh AS (
          |  SELECT source, CASE WHEN len(t) = 0 THEN []
          |    WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          |    ELSE [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
          |          for i in generate_series(1, len(t)-2)] END AS s
          |  FROM toks),
          |ex AS (SELECT DISTINCT source, unnest(s) AS tok FROM sh),
          |hb AS (SELECT source, ${fnv1a64("tok")} AS fh FROM ex),
          |x0 AS (SELECT source,
          |    ((fh::HUGEINT + $goldenU::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT AS x
          |  FROM hb),
          |${splitmixCtes("x0", "source", "sm")},
          |dsk AS (SELECT DISTINCT source, h FROM sm),
          |rk AS (SELECT source, h,
          |    row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM dsk),
          |sk AS (SELECT source, h FROM rk WHERE r <= 256),
          |pairs AS (
          |  SELECT a.source AS grp_a, b.source AS grp_b
          |  FROM (SELECT DISTINCT source FROM sk) a,
          |       (SELECT DISTINCT source FROM sk) b
          |  WHERE a.source < b.source),
          |pr AS (
          |  SELECT p.grp_a, p.grp_b, s.h, count(*) AS c
          |  FROM pairs p JOIN sk s ON s.source = p.grp_a OR s.source = p.grp_b
          |  GROUP BY p.grp_a, p.grp_b, s.h),
          |urk AS (SELECT grp_a, grp_b, h, c = 2 AS in_both,
          |    row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS r
          |  FROM pr)
          |SELECT grp_a, grp_b,
          |  CAST(count(*) AS BIGINT) AS k_used,
          |  CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          |  CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
          |    AS est_jaccard
          |FROM urk WHERE r <= 256
          |GROUP BY grp_a, grp_b""".stripMargin)),

    // Perceptual image hashing through the REAL BMP codec: Spark encodes
    // deterministic pixel grids as BMP payloads, decodes them back, and
    // computes the 9x8 dHash; the oracle replays the pixel formula and the
    // integer box-average/bit-pack directly — a codec or hash defect
    // flips bits.
    Query("q95_image_dhash",
      (s, dir) => MultimodalOps.imageDHash(
        // fanOut before the payload UDF: the small documents scan is one
        // split, so the decode would otherwise run on one core (see q101)
        graft.operators.Parallelism.fanOut(
          t(s, dir, "documents").select(col("doc_id").as("media_id")),
          col("media_id"))
          .withColumn("payload", dhashMediaUdf(col("media_id")))),
      Some(s"""WITH $dhashCtes
          |SELECT media_id, dhash FROM dh""".stripMargin)),

    // Image near-dup pairs by Hamming distance over dHash, banded
    // (4 x 16-bit bands; pigeonhole-complete for dist <= 3) then verified
    // with exact popcount. Planted duplicates (brightness-shifted
    // re-encodes) must come out at dist 0; the oracle brute-forces all
    // pairs, so banding recall is proven, not assumed.
    Query("q96_image_neardup",
      (s, dir) => MultimodalOps.imageNearDuplicates(
        // fanOut before the payload UDF: the small documents scan is one
        // split, so the decode would otherwise run on one core (see q101)
        graft.operators.Parallelism.fanOut(
          t(s, dir, "documents").select(col("doc_id").as("media_id")),
          col("media_id"))
          .withColumn("payload", dhashMediaUdf(col("media_id"))),
        maxDist = 3, bands = 4),
      Some(s"""WITH $dhashCtes
          |SELECT a.media_id AS id_a, b.media_id AS id_b,
          |  CAST(bit_count(xor(a.hu, b.hu)) AS INTEGER) AS dist
          |FROM dh a JOIN dh b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.hu, b.hu)) <= 3""".stripMargin)),

    // Association rules at the brand level: baskets = customers, items =
    // the part brands they ordered; support / confidence / lift as exact
    // quantized integers, both rule directions per supported pair.
    Query("q99_association_rules",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val ords = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val parts = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
        val inc = li
          .join(ords, li("l_orderkey") === ords("o_orderkey"))
          .join(parts, li("l_partkey") === parts("p_partkey"))
          .select(col("o_custkey"), col("p_brand"))
        AssociationOps.associationRules(inc, "o_custkey", "p_brand",
          minPairSupport = 10L)
      },
      Some("""WITH inc AS (
          |  SELECT DISTINCT o.o_custkey AS k, p.p_brand AS item
          |  FROM lineitem l
          |  JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN part p ON l.l_partkey = p.p_partkey),
          |nb AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS n_baskets FROM inc),
          |supp AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
          |         FROM inc GROUP BY item),
          |pairs AS (
          |  SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS n_ab
          |  FROM inc x JOIN inc y ON x.k = y.k AND x.item < y.item
          |  GROUP BY x.item, y.item
          |  HAVING count(*) >= 10),
          |rules AS (
          |  SELECT a AS ante, b AS cons, n_ab FROM pairs
          |  UNION ALL
          |  SELECT b AS ante, a AS cons, n_ab FROM pairs)
          |SELECT r.ante, r.cons, r.n_ab,
          |  sa.n_item AS n_ante, sc.n_item AS n_cons, nb.n_baskets,
          |  r.n_ab * 1000 // sa.n_item AS conf_permille,
          |  r.n_ab * nb.n_baskets * 1000000 // (sa.n_item * sc.n_item)
          |    AS lift_ppm
          |FROM rules r
          |JOIN supp sa ON sa.item = r.ante
          |JOIN supp sc ON sc.item = r.cons
          |CROSS JOIN nb""".stripMargin)),

    // Audio near-dup pairs through the REAL WAV codec: deterministic PCM
    // clips, with every doc_id % 4 == 1 clip a volume-DOUBLED re-encode of
    // its predecessor — the energy-delta fingerprint is volume-invariant,
    // so planted pairs land at Hamming distance 0. Oracle replays the
    // sample formula -> 65-span energies -> bit pack -> brute-force pairs.
    Query("q100_audio_neardup",
      (s, dir) => {
        val wavUdf = udf { id: Long =>
          val eid = if (id % 4 == 1) id - 1 else id
          val vol = if (id % 4 == 1) 2 else 1
          val n = (256 * (2 + eid % 4)).toInt
          val smp = Array.tabulate(n)(i =>
            (((eid * 37 + i * 11) % 4096 - 2048) * vol).toInt)
          graft.sources.Wav.encode(16000, smp)
        }
        // fanOut before the payload UDF: the small documents scan is one
        // split, so the decode would otherwise run on one core (see q101)
        MultimodalOps.audioNearDuplicates(
          graft.operators.Parallelism.fanOut(
            t(s, dir, "documents").select(col("doc_id").as("media_id")),
            col("media_id"))
            .withColumn("payload", wavUdf(col("media_id"))),
          maxDist = 3, bands = 4)
      },
      Some("""WITH ids AS (SELECT doc_id,
          |    doc_id - CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS eid,
          |    CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END AS vol
          |  FROM documents),
          |dims AS (SELECT doc_id, eid, vol,
          |    CAST(256 * (2 + eid % 4) AS BIGINT) AS n FROM ids),
          |smp AS (SELECT doc_id, eid, vol, n,
          |    unnest(generate_series(0, n - 1)) AS i FROM dims),
          |en AS (SELECT doc_id, i * 65 // n AS w,
          |    abs(((eid * 37 + i * 11) % 4096 - 2048) * vol) AS av
          |  FROM smp),
          |ew AS (SELECT doc_id, w, CAST(sum(av) AS BIGINT) AS e
          |       FROM en GROUP BY doc_id, w),
          |bits AS (SELECT a.doc_id, a.w,
          |    CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
          |  FROM ew a JOIN ew b ON a.doc_id = b.doc_id AND b.w = a.w + 1),
          |af AS (SELECT doc_id AS media_id,
          |    CAST(sum(CASE WHEN bit = 1
          |      THEN (1::UBIGINT << w)::HUGEINT
          |      ELSE 0::HUGEINT END) AS HUGEINT)::UBIGINT AS hu
          |  FROM bits GROUP BY doc_id)
          |SELECT a.media_id AS id_a, b.media_id AS id_b,
          |  CAST(bit_count(xor(a.hu, b.hu)) AS INTEGER) AS dist
          |FROM af a JOIN af b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.hu, b.hu)) <= 3""".stripMargin)),

    // Video near-dup through the REAL AVI codec: 16x12 3-frame clips,
    // doc_id % 4 == 1 re-encodes its predecessor brightness-shifted;
    // the middle-frame dHash is invariant to the shift, so planted pairs
    // land at distance 0. Oracle replays middle-frame pixels -> 9x8
    // box-average -> bit pack -> brute-force pairs.
    Query("q101_video_neardup",
      (s, dir) => {
        val aviUdf = udf { id: Long =>
          val eid = if (id % 4 == 1) id - 1 else id
          val shift = if (id % 4 == 1) 3 else 0
          val frames = Array.tabulate(3)(f =>
            Array.tabulate(16 * 12)(i =>
              ((eid * 13 + f * 7 + i * 3) % 250 + shift).toInt))
          graft.sources.Avi.encode(16, 12, 40000, frames)
        }
        // fan the 1-split documents scan out BEFORE the payload UDF so
        // encode + decode parallelize (a small parquet scans as one
        // partition and the whole media stage ran on one core)
        MultimodalOps.videoNearDuplicates(
          graft.operators.Parallelism.fanOut(
            t(s, dir, "documents").select(col("doc_id").as("media_id")),
            col("media_id"))
            .withColumn("payload", aviUdf(col("media_id"))),
          maxDist = 3, bands = 4)
      },
      Some("""WITH ids AS (SELECT doc_id,
          |    doc_id - CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS eid,
          |    CASE WHEN doc_id % 4 = 1 THEN 3 ELSE 0 END AS shift
          |  FROM documents),
          |px AS (SELECT doc_id,
          |    unnest(generate_series(0, 16 * 12 - 1)) AS i, eid, shift
          |  FROM ids),
          |pg AS (SELECT doc_id,
          |    (i // 16) * 8 // 12 AS br, (i % 16) * 9 // 16 AS bc,
          |    (eid * 13 + 1 * 7 + i * 3) % 250 + shift AS g
          |  FROM px),
          |cells AS (SELECT doc_id, br, bc,
          |    CAST(sum(g) // count(*) AS BIGINT) AS cell
          |  FROM pg GROUP BY doc_id, br, bc),
          |bits AS (SELECT a.doc_id, a.br, a.bc,
          |    CASE WHEN a.cell > b.cell THEN 1 ELSE 0 END AS bit
          |  FROM cells a JOIN cells b
          |    ON a.doc_id = b.doc_id AND a.br = b.br AND b.bc = a.bc + 1),
          |vh AS (SELECT doc_id AS media_id,
          |    CAST(sum(CASE WHEN bit = 1
          |      THEN (1::UBIGINT << (br * 8 + bc))::HUGEINT
          |      ELSE 0::HUGEINT END) AS HUGEINT)::UBIGINT AS hu
          |  FROM bits GROUP BY doc_id)
          |SELECT a.media_id AS id_a, b.media_id AS id_b,
          |  CAST(bit_count(xor(a.hu, b.hu)) AS INTEGER) AS dist
          |FROM vh a JOIN vh b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.hu, b.hu)) <= 3""".stripMargin)),

    // Batch click attribution through the SAME intervalJoin used by the
    // streaming path (withWatermark is a no-op in batch): every click
    // joins the views of its user within the prior 30 minutes — the
    // driver-verified anchor for the stream-stream join semantics.
    Query("q107_click_attribution",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("ts"), col("user_id"), col("event_id").as("imp_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("ts"), col("user_id"), col("event_id").as("click_id"))
        graft.streaming.EventStreams.intervalJoin(
            views, clicks, "user_id", "ts",
            maxGap = "30 minutes", watermarkDelay = "10 minutes")
          .select(col("l_imp_id").as("imp_id"),
            col("r_click_id").as("click_id"),
            (expr("unix_millis(r_ts)") - expr("unix_millis(l_ts)"))
              .as("gap_ms"))
      },
      Some("""WITH v AS (SELECT ts, user_id, event_id AS imp_id
          |       FROM events WHERE event_type = 'view'),
          |c AS (SELECT ts, user_id, event_id AS click_id
          |      FROM events WHERE event_type = 'click')
          |SELECT v.imp_id, c.click_id,
          |  CAST(epoch_ms(c.ts) - epoch_ms(v.ts) AS BIGINT) AS gap_ms
          |FROM v JOIN c ON v.user_id = c.user_id
          |  AND c.ts >= v.ts
          |  AND c.ts <= v.ts + INTERVAL 30 MINUTE""".stripMargin)),

    // Exact Pearson correlation matrix over lineitem's numeric columns:
    // integer centered sums below 2^53, so the final
    // sxy/(sqrt(sxx)*sqrt(syy)) is the SAME IEEE double in both engines
    // — a "floating-point" statistic that hash-matches.
    Query("q106_correlation_matrix",
      (s, dir) => graft.operators.Stats.correlationMatrix(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        Seq(100L, 1L, 10000L, 10000L)),
      Some {
        val names = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairRows = (for {
          i <- 0 until 4; j <- (i + 1) until 4
        } yield
          s"""SELECT '${names(i)}' AS col_a, '${names(j)}' AS col_b, n,
             |  s${i}$j AS sxy, s${i}$i AS sxx, s${j}$j AS syy,
             |  CASE WHEN s${i}$i = 0 OR s${j}$j = 0 THEN 0.0
             |    ELSE CAST(s${i}$j AS DOUBLE) /
             |      (sqrt(CAST(s${i}$i AS DOUBLE)) * sqrt(CAST(s${j}$j AS DOUBLE)))
             |  END AS corr FROM st""".stripMargin).mkString("\nUNION ALL\n")
        val prods = (for { i <- 0 until 4; j <- i until 4 }
          yield s"CAST(sum(c$i * c$j) AS BIGINT) AS s$i$j").mkString(",\n    ")
        s"""WITH q AS (SELECT
           |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q0,
           |    CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS q1,
           |    CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS q2,
           |    CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS q3
           |  FROM lineitem),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(q0) AS BIGINT) // CAST(count(*) AS BIGINT) AS m0,
           |    CAST(sum(q1) AS BIGINT) // CAST(count(*) AS BIGINT) AS m1,
           |    CAST(sum(q2) AS BIGINT) // CAST(count(*) AS BIGINT) AS m2,
           |    CAST(sum(q3) AS BIGINT) // CAST(count(*) AS BIGINT) AS m3
           |  FROM q),
           |c AS (SELECT q0 - m.m0 AS c0, q1 - m.m1 AS c1,
           |    q2 - m.m2 AS c2, q3 - m.m3 AS c3 FROM q, m),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    $prods
           |  FROM c)
           |$pairRows""".stripMargin
      }),

    // Grouped HLL: per-source distinct-token cardinality with the
    // integer-exact estimator — the deterministic analog of
    // approx_count_distinct(...) GROUP BY, exact enough to hash-match.
    Query("q104_hll_by_source",
      (s, dir) => SketchOps.hllSummaryByGroup(
        t(s, dir, "documents"), "source", "text", p = 10),
      Some(s"""WITH toks AS (
          |  SELECT source, unnest(list_filter(
          |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
          |  FROM documents),
          |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
          |        FROM toks GROUP BY source, token),
          |hb AS (SELECT source, token, n, ${fnv1a64("token")} AS fh FROM cnt),
          |x0 AS (SELECT source, n,
          |    ((fh::HUGEINT + $goldenU::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT AS x
          |  FROM hb),
          |${splitmixCtes("x0", "source, n", "sm")},
          |rr AS (SELECT source, n, (hu >> 54)::BIGINT AS reg,
          |    CASE WHEN (hu & 4294967295::UBIGINT) = 0::UBIGINT THEN 33
          |         ELSE 33 - length(bin(hu & 4294967295::UBIGINT)) END AS rho
          |  FROM sm),
          |regs AS (SELECT source, reg, max(rho) AS mrho,
          |    CAST(sum(n) AS BIGINT) AS n_toks,
          |    CAST(count(*) AS BIGINT) AS n_types
          |  FROM rr GROUP BY source, reg),
          |agg AS (SELECT source,
          |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
          |    CAST(sum(n_types) AS BIGINT) AS n_distinct,
          |    1024 - CAST(count(*) AS BIGINT) AS v_zero,
          |    (1024 - CAST(count(*) AS BIGINT)) * 8589934592 +
          |      CAST(sum(1::BIGINT << (33 - mrho)) AS BIGINT) AS s_q
          |  FROM regs GROUP BY source)
          |SELECT source, n_tokens, n_distinct, v_zero, s_q,
          |  CAST((${SketchOps.hllAlphaQ(10)}::BIGINT * 1024 * 1024 * 8) // s_q
          |    AS BIGINT) AS est_q,
          |  CAST(abs((${SketchOps.hllAlphaQ(10)}::BIGINT * 1024 * 1024 * 8) // s_q
          |    - n_distinct) * 1000 // n_distinct AS BIGINT) AS err_permille
          |FROM agg""".stripMargin)),

    // Terminal dedup step: MinHash near-dup pairs -> exact connected
    // components -> keep the min-id representative per cluster -> the
    // surviving corpus. The oracle replays banding, a recursive-CTE
    // transitive closure, and the anti-join.
    Query("q105_near_dedup_apply",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val pairs = graft.operators.DedupOps.minhashNearDuplicates(
          d, "doc_id", "text",
          numHashes = 64, shingleN = 3, bands = 16, threshold = 0.5)
          .select("id_a", "id_b")
        graft.operators.DedupOps.applyNearDedup(
          d.select(col("doc_id"), col("source")), "doc_id", pairs)
      },
      Some(s"""WITH RECURSIVE prs AS MATERIALIZED (
          |  SELECT id_a, id_b FROM (
          |${HashOracleSql.minhashNearDupSql(
            numHashes = 64, shingleN = 3, bands = 16, threshold = 0.5)}
          |  ) mh),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          |          UNION SELECT id_b, id_a FROM prs),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id),
          |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
          |drops AS (SELECT id FROM cl WHERE id <> cluster_id)
          |SELECT d.doc_id, d.source FROM documents d
          |LEFT JOIN drops ON d.doc_id = drops.id
          |WHERE drops.id IS NULL""".stripMargin)),

    // Observability for the dedup pipeline: per-source removal report
    // after the full MinHash -> cluster -> keep-representative chain —
    // the dashboard number a 100 TB dedup run is judged by.
    Query("q108_dedup_report",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val pairs = graft.operators.DedupOps.minhashNearDuplicates(
          d, "doc_id", "text",
          numHashes = 64, shingleN = 3, bands = 16, threshold = 0.5)
          .select("id_a", "id_b")
        val kept = graft.operators.DedupOps.applyNearDedup(
          d.select(col("doc_id"), col("source")), "doc_id", pairs)
        val total = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val surv = kept.groupBy("source").agg(count(lit(1)).as("n_kept"))
        total.join(surv, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
            expr("(n_docs - coalesce(n_kept, 0L)) * 1000 div n_docs")
              .as("drop_permille"))
      },
      Some(s"""WITH RECURSIVE prs AS MATERIALIZED (
          |  SELECT id_a, id_b FROM (
          |${HashOracleSql.minhashNearDupSql(
            numHashes = 64, shingleN = 3, bands = 16, threshold = 0.5)}
          |  ) mh),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          |          UNION SELECT id_b, id_a FROM prs),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id),
          |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
          |drops AS (SELECT id FROM cl WHERE id <> cluster_id),
          |kept AS (SELECT d.source FROM documents d
          |         LEFT JOIN drops ON d.doc_id = drops.id
          |         WHERE drops.id IS NULL)
          |SELECT t.source, t.n_docs,
          |  coalesce(k.n_kept, 0) AS n_kept,
          |  t.n_docs - coalesce(k.n_kept, 0) AS n_dropped,
          |  (t.n_docs - coalesce(k.n_kept, 0)) * 1000 // t.n_docs
          |    AS drop_permille
          |FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          |      FROM documents GROUP BY source) t
          |LEFT JOIN (SELECT source, CAST(count(*) AS BIGINT) AS n_kept
          |           FROM kept GROUP BY source) k
          |  ON t.source = k.source""".stripMargin)),

    // Per-document character entropy (gibberish / compressibility
    // signal): integer-quantized ln terms sum exactly in any order, so
    // even this "floating-point" statistic hash-matches the oracle.
    Query("q102_char_entropy",
      (s, dir) => TextOps.charEntropy(t(s, dir, "documents")),
      Some("""WITH ch AS (
          |  SELECT doc_id, unnest(list_filter(string_split(text, ''),
          |    c -> c <> '')) AS ch
          |  FROM documents),
          |cnt AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
          |        FROM ch GROUP BY doc_id, ch),
          |terms AS (SELECT doc_id,
          |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
          |    CAST(floor(c * (ln(CAST(sum(c) OVER (PARTITION BY doc_id)
          |      AS DOUBLE)) - ln(CAST(c AS DOUBLE))) * 1e6 + 0.5)
          |      AS BIGINT) AS term
          |  FROM cnt)
          |SELECT doc_id, max(n) AS n_chars,
          |  CAST(count(*) AS BIGINT) AS n_classes,
          |  CAST(sum(term) AS BIGINT) AS ent_sum_q,
          |  CAST(sum(term) AS BIGINT) // max(n) AS ent_micro
          |FROM terms GROUP BY doc_id""".stripMargin)),

    // Fixed-point PCA: integer Gram matrix, 10 power iterations in exact
    // long arithmetic, then per-label separation along the top principal
    // axis — "do my labels separate linearly?" over the embeddings table.
    // The driver-side eigenvector loop and the oracle's unrolled SQL
    // recursion agree bit-for-bit (floor divisions everywhere, sign fixed
    // at the first nonzero component).
    Query("q97_pca_label_separation",
      (s, dir) => ClusteringOps.pcaLabelProjection(
        t(s, dir, "embeddings"), vec = "embedding", labelCol = "label",
        iters = 10),
      Some(s"""WITH q AS (
          |  SELECT vec_id, label, i,
          |    CAST(floor(embedding[i + 1] * 1024 + 0.5) AS BIGINT) AS qx
          |  FROM embeddings, unnest(generate_series(0, 63)) AS t(i)),
          |st AS (SELECT i, CAST(sum(qx) AS BIGINT) AS s,
          |    CAST(count(*) AS BIGINT) AS n FROM q GROUP BY i),
          |mn AS (SELECT i, s // n AS m FROM st),
          |c AS MATERIALIZED (SELECT q.vec_id, q.label, q.i, q.qx - mn.m AS cx
          |      FROM q JOIN mn USING (i)),
          |g AS MATERIALIZED (SELECT a.i AS ia, b.i AS ib,
          |    CAST(sum(a.cx * b.cx) AS BIGINT) AS gv
          |  FROM c a JOIN c b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
          |v0 AS (SELECT i, CAST(65536 AS BIGINT) AS v
          |  FROM (SELECT unnest(generate_series(0, 63)) AS i) t),
          |${(1 to 10).map(pcaIter).mkString(",\n")},
          |axis AS (SELECT i,
          |    v * (CASE WHEN (SELECT v FROM v10 WHERE v <> 0 ORDER BY i LIMIT 1) < 0
          |         THEN -1 ELSE 1 END) AS a
          |  FROM v10),
          |pr AS (SELECT c.label, c.vec_id, sum(c.cx * axis.a) AS p
          |       FROM c JOIN axis ON c.i = axis.i GROUP BY c.label, c.vec_id)
          |SELECT label, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(p) // count(*) AS BIGINT) AS mean_proj_q,
          |  CAST(min(p) AS BIGINT) AS min_proj,
          |  CAST(max(p) AS BIGINT) AS max_proj
          |FROM pr GROUP BY label""".stripMargin)),

    // BPE tokenizer training (10 merges) over the documents corpus: the
    // subword-vocabulary learning step of every LLM pipeline. Statistics
    // depend only on the word HISTOGRAM (the one corpus shuffle); each
    // round is a vocabulary-sized pair count + 1-row argmax + replace.
    // The oracle unrolls the 10 rounds and must match the merge table
    // bit-for-bit (integer counts, string tie-breaks).
    Query("q109_bpe_merges",
      (s, dir) => TokenizerOps.bpeMerges(
        t(s, dir, "documents"), "text", numMerges = 10),
      Some(s"""WITH $tokCte,
          |$bpePrelude,
          |${(1 to 10).map(bpeRound).mkString(",\n")}
          |${(1 to 10).map(i =>
              s"SELECT CAST($i AS INTEGER) AS merge_rank, a AS left_sym, " +
                s"b AS right_sym, a || b AS merged, c AS n_pair FROM b$i")
              .mkString("\nUNION ALL\n")}""".stripMargin)),

    // Post-training subword statistics: top-40 final-vocabulary tokens by
    // corpus occurrence — what the learned tokenizer's hot vocabulary
    // looks like (n_words = word types containing the token).
    Query("q110_bpe_vocab_stats",
      (s, dir) => TokenizerOps.bpeTokenStats(
        t(s, dir, "documents"), "text", numMerges = 10, topK = 40),
      Some(s"""WITH $tokCte,
          |$bpePrelude,
          |${(1 to 10).map(bpeRound).mkString(",\n")}
          |SELECT token, CAST(count(*) AS BIGINT) AS n_words,
          |  CAST(sum(n) AS BIGINT) AS n_occurrences
          |FROM (SELECT unnest(string_split(trim(sym), ' ')) AS token, n
          |      FROM v10)
          |GROUP BY token
          |ORDER BY n_occurrences DESC, token
          |LIMIT 40""".stripMargin)),

    // The tokenizer's APPLY terminal step (the q105-style "train once,
    // run on everything" shape): encode every document with the 10 learned
    // merges and report per-doc word/subword/char counts plus the
    // chars-per-token compression a pipeline budgets sequence lengths
    // with. The encode join carries (doc, word, count) — never text.
    Query("q111_bpe_encode",
      (s, dir) => TokenizerOps.bpeEncodeCounts(
        t(s, dir, "documents"), "doc_id", "text", numMerges = 10),
      Some(s"""WITH dwords AS MATERIALIZED (SELECT doc_id,
          |    unnest(list_filter(
          |      string_split_regex(lower(text), '[^a-z0-9]+'),
          |      x -> x <> '')) AS word
          |  FROM documents),
          |toks AS (SELECT word AS token FROM dwords),
          |$bpePrelude,
          |${(1 to 10).map(bpeRound).mkString(",\n")},
          |wl AS (SELECT word,
          |    CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_sub,
          |    CAST(length(word) AS BIGINT) AS n_ch
          |  FROM v10),
          |dk AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS k
          |  FROM dwords GROUP BY doc_id, word)
          |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_word_tokens,
          |  CAST(sum(k * n_sub) AS BIGINT) AS n_bpe_tokens,
          |  CAST(sum(k * n_ch) AS BIGINT) AS n_chars,
          |  CAST(sum(k * n_ch) AS BIGINT) * 1000
          |    // CAST(sum(k * n_sub) AS BIGINT) AS chars_per_token_permille
          |FROM dk JOIN wl USING (word) GROUP BY doc_id""".stripMargin)),

    // Mergeable equi-width histogram sketch + percentile estimates over
    // events.value: constant groups x (bins+2) state (the
    // approx-quantile primitive for when exact per-group sorts are too
    // expensive), integer-exact binning on cent-quantized values, and a
    // streaming twin proven cell-equal in StreamingSpec. p50/p90/p99 per
    // event type with the bin's left edge in cents.
    Query("q112_value_histogram_percentiles",
      (s, dir) => SketchOps.histogramPercentiles(
        SketchOps.histogramSketch(t(s, dir, "events"), "event_type",
          "value", loCents = 0L, hiCents = 50000L, bins = 50),
        "event_type", Seq(500, 900, 990), loCents = 0L, hiCents = 50000L,
        bins = 50),
      Some("""WITH cents AS (SELECT event_type,
          |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
          |cells AS MATERIALIZED (SELECT event_type,
          |    CASE WHEN c < 0 THEN -1
          |         WHEN c >= 50000 THEN 50
          |         ELSE (c - 0) * 50 // 50000 END AS bin,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM cents GROUP BY 1, 2),
          |cum AS (SELECT event_type, bin, CAST(sum(n) OVER (
          |    PARTITION BY event_type ORDER BY bin) AS BIGINT) AS n_cum
          |  FROM cells),
          |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total
          |  FROM cells GROUP BY event_type),
          |px AS (SELECT c.event_type, c.bin, t.n_total, p.p_permille
          |  FROM cum c JOIN tot t USING (event_type),
          |       (SELECT unnest([500, 900, 990]) AS p_permille) p
          |  WHERE c.n_cum * 1000 >= p.p_permille * t.n_total)
          |SELECT event_type, p_permille, CAST(min(bin) AS BIGINT) AS bin,
          |  0 + CAST(min(bin) AS BIGINT) * 50000 // 50 AS est_cents,
          |  CAST(max(n_total) AS BIGINT) AS n_total
          |FROM px GROUP BY event_type, p_permille""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis-Spirakis
    // exponential race), 100 documents with probability proportional to
    // text length: per-row deterministic clocks ln(1/u)/w (quantized-ln
    // integers, the q102 precedent), k smallest win via TakeOrdered —
    // no shuffle before the top-k.
    Query("q113_weighted_sample",
      (s, dir) => SamplingOps.weightedSample(
        t(s, dir, "documents")
          .withColumn("w", length(col("text")).cast("double")),
        "doc_id", "w", k = 100, salt = "r9")
        .select(col("doc_id"), col("w_q"), col("score_q")),
      Some(s"""WITH w AS (SELECT doc_id, length(text)::DOUBLE AS wv
          |  FROM documents),
          |u AS (SELECT doc_id, wv,
          |    ((${fnv1a64("(doc_id::VARCHAR || ':r9')")} >> 11)::DOUBLE
          |      + 0.5) / 9007199254740992.0 AS u
          |  FROM w),
          |q AS (SELECT doc_id,
          |    CAST(floor(wv * 1000000 + 0.5) AS BIGINT) AS w_q,
          |    CAST(floor(ln(1.0 / u) * 1000000 + 0.5) AS BIGINT) AS lnq
          |  FROM u)
          |SELECT doc_id, w_q, lnq * 1000000 // w_q AS score_q
          |FROM q WHERE w_q > 0
          |ORDER BY score_q, doc_id LIMIT 100""".stripMargin)),

    // Per-event-type 1.5-sigma outlier counts with ZERO floating point:
    // the z-test as a cross-multiplied 128-bit integer inequality
    // (DECIMAL(38,0) / HUGEINT) off one constant-state moments
    // aggregation — the outlier-filtering primitive a value-cleaning
    // pipeline runs, exact at any scale.
    Query("q114_value_outliers",
      (s, dir) => graft.operators.Stats.zScoreOutliers(
        t(s, dir, "events"), "event_type", "value", kPermille = 1500L),
      Some("""WITH c AS (SELECT event_type,
          |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
          |m AS MATERIALIZED (SELECT event_type,
          |    CAST(count(*) AS BIGINT) AS n, sum(c::HUGEINT) AS s,
          |    sum(c::HUGEINT * c::HUGEINT) AS q
          |  FROM c GROUP BY event_type),
          |f AS (SELECT c.event_type, m.n,
          |    ((c.c::HUGEINT * m.n::HUGEINT - m.s)
          |       * (c.c::HUGEINT * m.n::HUGEINT - m.s)
          |       * 1000000::HUGEINT >
          |     2250000::HUGEINT * (m.n::HUGEINT * m.q - m.s * m.s))
          |      AS is_out
          |  FROM c JOIN m USING (event_type))
          |SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
          |  CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_outliers
          |FROM f GROUP BY event_type""".stripMargin)),

    // Content-defined chunking (rsync/FastCDC family) + chunk-store
    // dedup savings: boundaries where the 8-char windowed fnv1a64 has
    // its low 6 bits zero (expected chunk 64 chars), so an insertion
    // shifts only its own chunk — then identical chunks collapse and the
    // report counts the chars a chunk store saves. The oracle replays
    // the windowed fingerprint with the shared fnv list_reduce chain.
    Query("q115_cdc_chunk_dedup",
      (s, dir) => graft.operators.DedupOps.chunkDedupReport(
        graft.operators.DedupOps.contentDefinedChunks(
          t(s, dir, "documents"), "doc_id", "text",
          window = 8, maskBits = 6)),
      Some(s"""WITH d AS (SELECT doc_id, text AS t, length(text) AS len
          |  FROM documents WHERE length(text) > 0),
          |pos AS (SELECT doc_id, t, unnest(range(8, len + 1)) AS i FROM d),
          |cuts AS (SELECT doc_id, i AS cut FROM pos
          |  WHERE (${fnv1a64("substr(t, i - 7, 8)")} % 64) = 0),
          |carr AS (SELECT doc_id, list_sort(list(cut)) AS cuts
          |  FROM cuts GROUP BY doc_id),
          |b AS (SELECT d.doc_id, d.t,
          |    list_concat(list_concat([0], coalesce(carr.cuts, [])),
          |      [d.len]) AS bs
          |  FROM d LEFT JOIN carr USING (doc_id)),
          |ch AS (SELECT doc_id,
          |    substr(t, bs[ix] + 1, bs[ix + 1] - bs[ix]) AS chunk,
          |    bs[ix + 1] - bs[ix] AS clen
          |  FROM (SELECT doc_id, t, bs, unnest(range(1, len(bs))) AS ix
          |        FROM b)
          |  WHERE bs[ix + 1] > bs[ix]),
          |g AS (SELECT chunk, CAST(count(*) AS BIGINT) AS cnt,
          |    CAST(max(clen) AS BIGINT) AS clen
          |  FROM ch GROUP BY chunk)
          |SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
          |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
          |  CAST(sum(cnt - 1) AS BIGINT) AS n_dup_chunks,
          |  CAST(sum((cnt - 1) * clen) AS BIGINT) AS dup_chars,
          |  CAST(sum(cnt * clen) AS BIGINT) AS total_chars
          |FROM g""".stripMargin)),

    // Quality-aware dedup apply: each near-dup cluster keeps its LONGEST
    // member ((length DESC, id ASC) — the production "keep the best
    // version" policy) instead of the min-id representative. Oracle:
    // the q105 recursive-CTE clustering + a per-cluster argmax window.
    Query("q116_near_dedup_keep_best",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val pairs = graft.operators.DedupOps.minhashNearDuplicates(
          d, "doc_id", "text",
          numHashes = 64, shingleN = 3, bands = 16, threshold = 0.5)
          .select("id_a", "id_b")
        graft.operators.DedupOps.applyNearDedupBy(
          d.select(col("doc_id"), col("source"),
            length(col("text")).as("sc")), "doc_id", pairs, "sc")
          .select(col("doc_id"), col("source"), col("sc").cast("long").as("sc"))
      },
      Some(s"""WITH RECURSIVE prs AS MATERIALIZED (
          |  SELECT id_a, id_b FROM (
          |${HashOracleSql.minhashNearDupSql(
            numHashes = 64, shingleN = 3, bands = 16, threshold = 0.5)}
          |  ) mh),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          |          UNION SELECT id_b, id_a FROM prs),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id),
          |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
          |scored AS (SELECT d.doc_id, d.source,
          |    CAST(length(d.text) AS BIGINT) AS sc,
          |    coalesce(cl.cluster_id, d.doc_id) AS cid
          |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id)
          |SELECT doc_id, source, sc FROM (
          |  SELECT doc_id, source, sc, row_number() OVER (
          |    PARTITION BY cid ORDER BY sc DESC, doc_id) AS rn
          |  FROM scored)
          |WHERE rn = 1""".stripMargin)),

    // Fixed-point POCKET perceptron: train a quality gate (label = "at
    // least 40 words") on integer features (word count, char count, mean
    // word length permille) — the fastText-style classifier step in
    // EXACT long arithmetic, PerceptronIters unrolled iterations replayed
    // in SQL; the pocket rule returns the best-scoring snapshot.
    // Output: the pocket weights + their training accuracy.
    Query("q117_perceptron_quality_gate",
      (s, dir) => {
        val feats = t(s, dir, "documents").select(col("doc_id"),
          size(TextOps.alnumWords(col("text"))).cast("long").as("f_words"),
          length(col("text")).cast("long").as("f_chars"))
          .filter(col("f_words") > 0)
          .withColumn("f_mwl", expr("f_chars * 1000 div f_words"))
          .withColumn("y", when(col("f_words") >= 40, 1L).otherwise(0L))
        ClusteringOps.perceptronTrain(feats,
          Seq("f_words", "f_chars", "f_mwl"), "y", iters = PerceptronIters)
      },
      Some(s"""WITH fr AS (SELECT doc_id,
          |    CAST(len(list_filter(
          |      string_split_regex(lower(text), '[^a-z0-9]+'),
          |      x -> x <> '')) AS BIGINT) AS f_words,
          |    CAST(length(text) AS BIGINT) AS f_chars
          |  FROM documents),
          |feats0 AS MATERIALIZED (SELECT doc_id, f_words, f_chars,
          |    f_chars * 1000 // f_words AS f_mwl,
          |    CASE WHEN f_words >= 40 THEN 1 ELSE 0 END AS y
          |  FROM fr WHERE f_words > 0),
          |m AS MATERIALIZED (SELECT
          |    CAST(sum(f_words) AS BIGINT) // CAST(count(*) AS BIGINT) AS m1,
          |    CAST(sum(f_chars) AS BIGINT) // CAST(count(*) AS BIGINT) AS m2,
          |    CAST(sum(f_mwl) AS BIGINT) // CAST(count(*) AS BIGINT) AS m3
          |  FROM feats0),
          |feats AS MATERIALIZED (SELECT y,
          |    f_words - (SELECT m1 FROM m) AS f_words,
          |    f_chars - (SELECT m2 FROM m) AS f_chars,
          |    f_mwl - (SELECT m3 FROM m) AS f_mwl
          |  FROM feats0),
          |w0 AS (SELECT 0::BIGINT AS b, 0::BIGINT AS w1,
          |       0::BIGINT AS w2, 0::BIGINT AS w3),
          |${(1 to PerceptronIters).map(perceptronIter).mkString(",\n")},
          |${perceptronPred(PerceptronIters + 1, s"w$PerceptronIters")},
          |accs AS MATERIALIZED (
          |${(1 to PerceptronIters + 1).map(j =>
              s"  SELECT ${j - 1} AS i, (SELECT CAST(sum(CASE WHEN " +
                s"pred = y THEN 1 ELSE 0 END) AS BIGINT) FROM p$j) AS ok")
              .mkString("\n  UNION ALL\n")}),
          |best AS (SELECT i, ok FROM accs ORDER BY ok DESC, i LIMIT 1),
          |nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feats)
          |SELECT CAST(0 AS INTEGER) AS feature_idx, 'bias' AS feature,
          |  0::BIGINT AS center,
          |  ${pocketCase("b", PerceptronIters)} AS weight,
          |  (SELECT ok FROM best) AS n_correct, (SELECT n FROM nrow) AS n_total
          |UNION ALL SELECT 1, 'f_words', (SELECT m1 FROM m),
          |  ${pocketCase("w1", PerceptronIters)},
          |  (SELECT ok FROM best), (SELECT n FROM nrow)
          |UNION ALL SELECT 2, 'f_chars', (SELECT m2 FROM m),
          |  ${pocketCase("w2", PerceptronIters)},
          |  (SELECT ok FROM best), (SELECT n FROM nrow)
          |UNION ALL SELECT 3, 'f_mwl', (SELECT m3 FROM m),
          |  ${pocketCase("w3", PerceptronIters)},
          |  (SELECT ok FROM best), (SELECT n FROM nrow)""".stripMargin)),

    // Multinomial Naive Bayes language router: train on even doc_ids,
    // classify the odd ones, report the confusion matrix — the cheap
    // high-throughput classifier step of a routing pipeline, in EXACT
    // integer arithmetic (1e-7-quantized log-probs, closed-form smoothing
    // mass, label-ascending tie-break) so the distributed argmax replays
    // bit-for-bit in SQL.
    Query("q118_nb_language_confusion",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.ClassifierOps.nbConfusion(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "lang", "text", buckets = 4096, alpha = 1.0)
      },
      Some(HashOracleSql.nbConfusionSql(buckets = 4096, alpha = 1.0,
        trainPred = "doc_id % 2 = 0", testPred = "doc_id % 2 = 1"))),

    // Deterministic label-propagation communities over the part
    // co-purchase graph: 4 synchronous rounds of "adopt the most frequent
    // neighbor label, ties to the smallest" (pure integer argmax — unlike
    // classic randomized LPA this replays bit-for-bit), then the 50
    // largest communities. The oracle unrolls the rounds.
    Query("q119_copurchase_communities",
      (s, dir) => GraphOps.labelPropagationCommunities(
        GraphOps.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        rounds = 4, k = 50),
      Some(s"""WITH pairs AS MATERIALIZED (
          |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |nodes AS (SELECT DISTINCT src AS node FROM pairs),
          |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
          |${(1 to 4).map(lpaRound).mkString(",\n")}
          |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
          |FROM l4 GROUP BY 1
          |ORDER BY n_nodes DESC, community LIMIT 50""".stripMargin)),

    // Newman modularity of a deterministic 16-bucket partition of the
    // co-purchase graph — exact integer accounting (m, within,
    // degree-sum squares in 128-bit), two engine-identical double
    // divisions at the end. The partition is id%16 so the oracle can
    // replay it exactly; the spec separately proves LPA labelings score
    // high on planted communities.
    Query("q154_modularity",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = GraphOps.coOccurrenceEdges(
          li, "l_orderkey", "l_partkey")
        // label the parts straight off the BASE table (labeling items that
        // never form an edge is harmless — modularity left-joins from the
        // edges), so the label plan never replays the co-occurrence join
        val labels = li.select(col("l_partkey").as("id")).distinct()
          .withColumn("label", pmod(col("id"), lit(16L)))
        GraphOps.modularity(edges, labels)
      },
      Some("""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM pairs),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS m,
            CAST(sum(CASE WHEN a % 16 = b % 16 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_within
          FROM und),
        deg AS (SELECT id, CAST(count(*) AS HUGEINT) AS deg FROM (
            SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
          GROUP BY 1),
        dc AS (SELECT id % 16 AS c, sum(deg) AS dcsum FROM deg GROUP BY 1),
        dc2 AS (SELECT sum(dcsum * dcsum) AS sdc2 FROM dc)
        SELECT m, n_within,
          CAST(n_within AS DOUBLE) / CAST(m AS DOUBLE)
            - CAST(sdc2 AS DOUBLE) / (4.0 * m * m) AS q_modularity
        FROM cnt, dc2""")),

    // Degree assortativity of the co-purchase graph — exact integer edge
    // sums (128-bit), one double division; NULL on regular graphs.
    Query("q158_assortativity",
      (s, dir) => GraphOps.assortativity(
        GraphOps.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey")),
      Some("""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM pairs),
        deg AS (SELECT id, CAST(count(*) AS HUGEINT) AS deg FROM (
            SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
          GROUP BY 1),
        wd AS (SELECT da.deg AS da, db.deg AS db
          FROM und JOIN deg da ON da.id = und.a
                   JOIN deg db ON db.id = und.b),
        s AS (SELECT CAST(count(*) AS HUGEINT) AS m,
            sum(da * db) AS sjk, sum(da + db) AS ssum,
            sum(da * da + db * db) AS ssq
          FROM wd)
        SELECT CAST(m AS BIGINT) AS m,
          CASE WHEN (2*m*ssq - ssum*ssum) = 0 THEN NULL
            ELSE CAST(4*m*sjk - ssum*ssum AS DOUBLE)
                   / CAST(2*m*ssq - ssum*ssum AS DOUBLE) END
            AS r_assortativity
        FROM s""")),

    // HITS hubs/authorities on the DIRECTED customer -> purchased-part
    // bipartite graph — integer sum-renormalized half-steps (every
    // iterate an exact integer vector), so the oracle unrolls the
    // recurrence as chained CTEs exactly like PageRank's; top-25 per
    // side with the (score desc, node) tie-break.
    Query("q172_hits_topk",
      (s, dir) => GraphOps.hitsTopK(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"), col("l_partkey").as("dst")),
        iters = 3, k = 25),
      Some(s"""WITH e AS MATERIALIZED (
          |  SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
          |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
          |h0 AS (SELECT DISTINCT src AS node,
          |  CAST(1000000 AS BIGINT) AS s FROM e),
          |${(1 to 3).map(hitsIter).mkString(",\n")},
          |allsides AS (
          |  SELECT node, 'auth' AS side, s AS score_q FROM a3
          |  UNION ALL SELECT node, 'hub', s FROM h3)
          |SELECT node, side, score_q FROM allsides
          |QUALIFY row_number() OVER (
          |  PARTITION BY side ORDER BY score_q DESC, node) <= 25"""
        .stripMargin))
  )
}
