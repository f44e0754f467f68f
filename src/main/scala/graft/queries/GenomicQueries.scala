package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CoverageOps, RegionJoins}

/** Interval/region operator coverage (SURVEY.md §2.4 joins, §2.5 coverage)
  * exercised through the driver's DuckDB oracle. The testdata has no genomic
  * tables, so deterministic interval sets are synthesized from lineitem /
  * part / supplier columns with pure integer arithmetic — identical
  * expressions on the Spark and SQL sides. Interval semantics are exactly
  * the engine's: 0-based half-open, overlap = `l.start < r.end AND
  * r.start < l.end` (models/ReferenceRegion.scala:671).
  *
  * The Spark side runs the real operators ([[RegionJoins]] binned join,
  * [[CoverageOps]]); the oracle states the naive semantics — so a hash match
  * proves the bin+explode+dedup rewrite is exact.
  */
object GenomicQueries extends QuerySet {

  // ---- synthesized interval tables (Spark + SQL twins) ----

  /** ~n/4 intervals per contig over positions [0, 10000); from lineitem. */
  private def ivReads(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      (col("l_orderkey") % 4).cast("string").as("referenceName"),
      ((col("l_partkey") * 7 + col("l_linenumber")) % 10000).as("start"),
      (((col("l_partkey") * 7 + col("l_linenumber")) % 10000) + 1 +
        (col("l_suppkey") % 50)).as("end"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))

  private val ivReadsSql =
    """SELECT CAST(l_orderkey % 4 AS VARCHAR) AS referenceName,
         (l_partkey * 7 + l_linenumber) % 10000 AS "start",
         (l_partkey * 7 + l_linenumber) % 10000 + 1 + (l_suppkey % 50) AS "end",
         l_orderkey * 10 + l_linenumber AS id
       FROM lineitem"""

  /** Sparse feature-like intervals from part. */
  private def ivFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      (col("p_partkey") % 4).cast("string").as("referenceName"),
      ((col("p_partkey") * 13) % 10000).as("start"),
      (((col("p_partkey") * 13) % 10000) + 1 + (col("p_size") % 80)).as("end"),
      col("p_partkey").as("id"))

  private val ivFeaturesSql =
    """SELECT CAST(p_partkey % 4 AS VARCHAR) AS referenceName,
         (p_partkey * 13) % 10000 AS "start",
         (p_partkey * 13) % 10000 + 1 + (p_size % 80) AS "end",
         p_partkey AS id
       FROM part"""

  /** Small interval set from supplier (for flanked/nearby joins). */
  private def ivTargets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier").select(
      (col("s_suppkey") % 4).cast("string").as("referenceName"),
      ((col("s_suppkey") * 131) % 10000).as("start"),
      (((col("s_suppkey") * 131) % 10000) + 1 + (col("s_nationkey") % 40)).as("end"),
      col("s_suppkey").as("id"))

  private val ivTargetsSql =
    """SELECT CAST(s_suppkey % 4 AS VARCHAR) AS referenceName,
         (s_suppkey * 131) % 10000 AS "start",
         (s_suppkey * 131) % 10000 + 1 + (s_nationkey % 40) AS "end",
         s_suppkey AS id
       FROM supplier"""

  val queries: Seq[Query] = Seq(

    // Inner interval-overlap join — binned rewrite vs naive theta-join
    // oracle (shuffleRegionJoin, GenomicDataset.scala:1798). binSize comes
    // from tunedBinSize so the auto-tune path is exercised through the
    // oracle gate every round (floor=100 matches the synthetic [0,10000)
    // coordinate space; output is binSize-invariant by construction).
    Query("q16_region_join_inner",
      (s, dir) => RegionJoins.overlapPairs(
        ivReads(s, dir), ivFeatures(s, dir), "id", "id",
        binSize = RegionJoins.tunedBinSize(
          ivReads(s, dir), ivFeatures(s, dir), floor = 100))
        .toDF("read_id", "feature_id"),
      Some(s"""WITH reads AS ($ivReadsSql), features AS ($ivFeaturesSql)
        SELECT a.id AS read_id, b.id AS feature_id
        FROM reads a JOIN features b
          ON a.referenceName = b.referenceName
         AND a."start" < b."end" AND b."start" < a."end"""")),

    // Left-outer grouped: per feature, how many reads overlap (zero kept) —
    // the AndGroupByLeft family (GenomicDataset.scala:2272-2435).
    Query("q17_region_join_outer_counts",
      (s, dir) => RegionJoins.overlapCounts(
          ivFeatures(s, dir), ivReads(s, dir),
          binSize = RegionJoins.tunedBinSize(
            ivFeatures(s, dir), ivReads(s, dir), floor = 100))
        .select(col("id").as("feature_id"), col("n_overlaps").as("n_reads")),
      Some(s"""WITH reads AS ($ivReadsSql), features AS ($ivFeaturesSql)
        SELECT b.id AS feature_id,
          CAST(sum(CASE WHEN a.id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_reads
        FROM features b LEFT JOIN reads a
          ON a.referenceName = b.referenceName
         AND a."start" < b."end" AND b."start" < a."end"
        GROUP BY b.id""")),

    // Flanked (nearby) join — flankSize tolerance semantics
    // (GenomicDataset.scala:3024 pad(flankSize)).
    Query("q18_region_join_flanked",
      (s, dir) => RegionJoins.overlapJoin(
        ivTargets(s, dir), ivFeatures(s, dir), "inner",
        binSize = RegionJoins.tunedBinSize(
          ivTargets(s, dir), ivFeatures(s, dir), floor = 500),
        flank = 100)
        .select(col("l_id").as("target_id"), col("r_id").as("feature_id")),
      Some(s"""WITH targets AS ($ivTargetsSql), features AS ($ivFeaturesSql)
        SELECT a.id AS target_id, b.id AS feature_id
        FROM targets a JOIN features b
          ON a.referenceName = b.referenceName
         AND a."start" < b."end" + 100 AND b."start" < a."end" + 100""")),

    // Per-base depth of coverage (AlignmentDataset.toCoverage shape,
    // AlignmentDataset.scala:529-556) aggregated into 500-bp bins.
    Query("q19_coverage_binned",
      (s, dir) => {
        val cov = CoverageOps.toCoverage(ivFeatures(s, dir))
        cov.groupBy(col("referenceName"),
            ((col("start") / 500).cast("long") * 500).as("binStart"))
          .agg(sum(col("count")).as("total_depth"),
            count(lit(1)).as("n_covered_bases"))
      },
      Some(s"""WITH features AS ($ivFeaturesSql),
        bases AS (
          SELECT referenceName, unnest(generate_series("start", "end" - 1)) AS pos
          FROM features),
        cov AS (
          SELECT referenceName, pos, count(*) AS cnt
          FROM bases GROUP BY referenceName, pos)
        SELECT referenceName, (pos // 500) * 500 AS binStart,
          CAST(sum(cnt) AS BIGINT) AS total_depth,
          count(*) AS n_covered_bases
        FROM cov GROUP BY referenceName, binStart""")),

    // Grouped region join with per-left aggregates (the AndGroupByLeft
    // family materialized as stats; GenomicDataset.scala:2592-2754).
    // Grouped region join (shuffleRegionJoinAndGroupByLeft family): per
    // target, the numerically-sorted id list of overlapping reads as one
    // string — hash-matching proves the grouped collect (incl. empty
    // groups under outer semantics) against the naive SQL.
    Query("q39_region_join_grouped",
      (s, dir) => {
        val grouped = RegionJoins.overlapJoinGroupByLeft(
          ivTargets(s, dir), ivReads(s, dir), rightStructCols = Seq("id"),
          outer = true,
          binSize = RegionJoins.tunedBinSize(
            ivTargets(s, dir), ivReads(s, dir), floor = 100))
        grouped.select(col("id").as("target_id"),
          array_join(
            expr("transform(array_sort(transform(overlaps, o -> o.id)), x -> cast(x as string))"),
            ",").as("read_ids"))
      },
      Some(s"""WITH reads AS ($ivReadsSql), targets AS ($ivTargetsSql)
        SELECT t.id AS target_id,
          coalesce(string_agg(CAST(a.id AS VARCHAR), ',' ORDER BY a.id), '') AS read_ids
        FROM targets t LEFT JOIN reads a
          ON a.referenceName = t.referenceName
         AND a."start" < t."end" AND t."start" < a."end"
        GROUP BY t.id""")),

    // The REAL markDuplicates operator over reads synthesized from
    // lineitem, against an independent SQL statement of the semantics:
    // single-end reads ranked within (refName, 5' position) by
    // (phred score desc, name) — rank 1 survives.
    Query("q40_markdup_semantics",
      (s, dir) => {
        implicit val alignEnc: org.apache.spark.sql.Encoder[graft.model.Alignment] =
          org.apache.spark.sql.Encoders.product[graft.model.Alignment]
        // (orderkey, linenumber, partkey, suppkey) is the unique row key of
        // the synthetic lineitem — names must be unique or reads merge
        // into one fragment bucket. Columns are built declaratively (no
        // typed map) so the whole query stays in codegen.
        val nullS = lit(null).cast("string")
        val nullL = lit(null).cast("long")
        val nullI = lit(null).cast("int")
        val nullB = lit(null).cast("boolean")
        val start = (col("l_partkey") * 7 + col("l_linenumber")) % 10000
        // sf0.001 contains a fully-duplicated lineitem row: identical rows
        // would merge into one two-read fragment bucket while the SQL twin
        // ranks them separately. The name encodes every varying column, so
        // deduping drops exactly the clones. To shuffle fewer bytes, dedup
        // on the 4-column key BEFORE the wide projection —
        // readName is a bijection of these four columns and every read
        // field is a function of them alone, so the surviving read set is
        // identical, and the dedup exchange carries 4 longs instead of the
        // 34-column synthetic read (sequence, qualities, attributes map).
        val reads = t(s, dir, "lineitem")
          .dropDuplicates("l_orderkey", "l_linenumber", "l_partkey",
            "l_suppkey")
          .select(
          (col("l_orderkey") % 4).cast("string").as("referenceName"),
          start.as("start"),
          (start + 36).as("end"),
          nullL.as("originalStart"),
          concat_ws("-", lit("r"), col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")).as("readName"),
          lit("A" * 36).as("sequence"),
          // quality char = chr(33 + suppkey % 40), repeated 36 times
          expr("repeat(chr(33 + l_suppkey % 40), 36)").as("qualityScores"),
          lit("36M").as("cigar"),
          nullS.as("originalCigar"),
          nullI.as("basesTrimmedFromStart"), nullI.as("basesTrimmedFromEnd"),
          nullI.as("mappingQuality"),
          lit(false).as("readPaired"), nullB.as("properPair"),
          lit(true).as("readMapped"), nullB.as("mateMapped"),
          nullI.as("readInFragment"),
          nullB.as("failedVendorQualityChecks"), nullB.as("duplicateRead"),
          lit(false).as("readNegativeStrand"), nullB.as("mateNegativeStrand"),
          lit(true).as("primaryAlignment"), lit(false).as("secondaryAlignment"),
          lit(false).as("supplementaryAlignment"),
          nullS.as("mismatchingPositions"), nullS.as("mateReferenceName"),
          nullL.as("mateAlignmentStart"), nullL.as("insertSize"),
          nullS.as("readGroupId"), nullS.as("readGroupSampleId"),
          expr("cast(map() as map<string,string>)").as("attributes")
        ).as[graft.model.Alignment]
        graft.operators.AlignmentOps.markDuplicates(reads)
          .toDF().select(col("readName"), col("duplicateRead"))
      },
      Some("""WITH reads AS (
          SELECT DISTINCT 'r-' || CAST(l_orderkey AS VARCHAR) || '-' ||
              CAST(l_linenumber AS VARCHAR) || '-' ||
              CAST(l_partkey AS VARCHAR) || '-' ||
              CAST(l_suppkey AS VARCHAR) AS readName,
            CAST(l_orderkey % 4 AS VARCHAR) AS refName,
            (l_partkey*7 + l_linenumber) % 10000 AS pos,
            CASE WHEN l_suppkey % 40 >= 15 THEN 36*(l_suppkey % 40) ELSE 0 END AS score
          FROM lineitem),
        ranked AS (SELECT readName, row_number() OVER (
            PARTITION BY refName, pos ORDER BY score DESC, readName) AS rn
          FROM reads)
        SELECT readName, rn > 1 AS duplicateRead FROM ranked""")),

    Query("q33_region_aggregate",
      (s, dir) => {
        val j = RegionJoins.overlapJoin(
          ivTargets(s, dir), ivReads(s, dir), "inner",
          binSize = RegionJoins.tunedBinSize(
            ivTargets(s, dir), ivReads(s, dir), floor = 100))
        j.groupBy(col("l_id").as("target_id"))
          .agg(count(lit(1)).as("n_reads"),
            min(col("r_start")).as("min_start"),
            max(col("r_end")).as("max_end"))
      },
      Some(s"""WITH reads AS ($ivReadsSql), targets AS ($ivTargetsSql)
        SELECT t.id AS target_id, count(*) AS n_reads,
          CAST(min(a."start") AS BIGINT) AS min_start,
          CAST(max(a."end") AS BIGINT) AS max_end
        FROM targets t JOIN reads a
          ON a.referenceName = t.referenceName
         AND a."start" < t."end" AND t."start" < a."end"
        GROUP BY t.id""")),

    // Run-length collapse of equal-depth runs — gaps-and-islands
    // (CoverageDataset.collapse, CoverageDataset.scala:300-348).
    Query("q20_coverage_collapse",
      (s, dir) => CoverageOps.collapse(
        CoverageOps.toCoverage(ivTargets(s, dir))),
      Some(s"""WITH targets AS ($ivTargetsSql),
        bases AS (
          SELECT referenceName, unnest(generate_series("start", "end" - 1)) AS pos
          FROM targets),
        cov AS (
          SELECT referenceName, pos, count(*) AS cnt
          FROM bases GROUP BY referenceName, pos),
        flagged AS (
          SELECT referenceName, pos, cnt,
            CASE WHEN lag(pos) OVER w = pos - 1 AND lag(cnt) OVER w = cnt
                 THEN 0 ELSE 1 END AS brk
          FROM cov WINDOW w AS (PARTITION BY referenceName ORDER BY pos)),
        grp AS (
          SELECT referenceName, pos, cnt,
            sum(brk) OVER (PARTITION BY referenceName ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
          FROM flagged)
        SELECT referenceName, min(pos) AS "start", max(pos) + 1 AS "end",
          cnt AS count
        FROM grp GROUP BY referenceName, g, cnt""")),

    // BQSR pass-1 observation table (recalibrateBaseQualities pass 1;
    // reference recalibration/BaseQualityRecalibration.scala:58-120). Reads
    // are synthesized 36M single-base-repeat sequences with a planted MD
    // mismatch on every 3rd order — so cycle (strand- and fragment-signed),
    // dinucleotide (sequenced-strand pair) and the per-base mismatch count
    // are all closed-form in SQL. The Spark side runs the REAL operator
    // (CIGAR/MD walk in observeRead); a hash match proves the covariate
    // extraction, not a SQL re-statement of it.
    Query("q49_bqsr_observations",
      (s, dir) => {
        val m = (col("l_linenumber") * 5 % 36).cast("int")
        val md = when(col("l_orderkey") % 3 === 0,
          concat(m.cast("string"), lit("G"), (lit(35) - m).cast("string")))
          .otherwise(lit("36"))
        val reads = synthReads(s, dir,
          sequence = expr("repeat(substr('ACGT', cast(l_partkey % 4 as int) + 1, 1), 36)"),
          quality = expr("repeat(chr(33 + l_suppkey % 40), 36)"),
          cigar = lit("36M"), md = md,
          neg = col("l_orderkey") % 2 === 1,
          inFragment = (col("l_partkey") % 2).cast("int"),
          readGroup = concat(lit("rg"), (col("l_suppkey") % 4).cast("string")))
        graft.algorithms.Bqsr.observationDF(reads, (_, _) => false)
          .select(col("readGroupId"),
            col("reportedQuality").cast("long").as("reportedQuality"),
            col("cycle").cast("long").as("cycle"), col("dinuc"),
            col("observations"), col("mismatches"))
      },
      Some("""WITH reads AS (
          SELECT 'rg' || CAST(l_suppkey % 4 AS VARCHAR) AS rg,
            l_suppkey % 40 AS q,
            substr('ACGT', CAST(l_partkey % 4 AS INT) + 1, 1) AS base,
            l_orderkey % 2 = 1 AS neg,
            l_partkey % 2 = 1 AS second,
            CASE WHEN l_orderkey % 3 = 0 THEN (l_linenumber * 5) % 36
                 ELSE -1 END AS mmoff
          FROM lineitem),
        cells AS (
          SELECT rg, q,
            CASE WHEN NOT neg AND NOT second THEN i + 1
                 WHEN NOT neg AND second THEN -(i + 1)
                 WHEN neg AND NOT second THEN 36 - i
                 ELSE -(36 - i) END AS cycle,
            CASE WHEN (NOT neg AND i = 0) OR (neg AND i = 35) THEN 'NN'
                 WHEN NOT neg THEN base || base
                 ELSE translate(base, 'ACGT', 'TGCA') ||
                      translate(base, 'ACGT', 'TGCA') END AS dinuc,
            CASE WHEN i = mmoff THEN 1 ELSE 0 END AS mm
          FROM reads, generate_series(0, 35) AS t(i)
          WHERE q >= 1)
        SELECT rg AS readGroupId, CAST(q AS BIGINT) AS reportedQuality,
          CAST(cycle AS BIGINT) AS cycle, dinuc,
          CAST(count(*) AS BIGINT) AS observations,
          CAST(sum(mm) AS BIGINT) AS mismatches
        FROM cells GROUP BY 1, 2, 3, 4""")),

    // Realignment target finding (realignIndels step 1; reference
    // realignmenttarget/RealignmentTargetFinder.scala:126): indel spans
    // from the CIGAR + mismatch sites from the MD tag, distinct'd and
    // merged within maxTargetGap. Reads carry one of four evidence shapes
    // keyed on l_orderkey % 4 (deletion / insertion / MD mismatch / clean),
    // so the span set is closed-form in SQL; the gaps-and-islands merge
    // runs for real on the Spark side and is restated with window
    // functions in the oracle.
    Query("q50_realign_targets",
      (s, dir) => {
        val m = (col("l_linenumber") * 5 % 36).cast("int")
        val kind = col("l_orderkey") % 4
        val reads = synthReads(s, dir,
          sequence = lit("A" * 36),
          quality = lit("I" * 36),
          cigar = when(kind === 0, lit("10M2D26M"))
            .when(kind === 1, lit("18M2I16M"))
            .otherwise(lit("36M")),
          md = when(kind === 2,
            concat(m.cast("string"), lit("G"), (lit(35) - m).cast("string")))
            .otherwise(lit(null).cast("string")),
          neg = lit(false),
          inFragment = lit(null).cast("int"),
          readGroup = lit(null).cast("string"))
        graft.algorithms.RealignIndels.findTargets(reads, maxTargetGap = 100L)
      },
      Some("""WITH reads AS (
          SELECT CAST(l_orderkey % 4 AS VARCHAR) AS ref,
            (l_partkey * 7 + l_linenumber) % 10000 AS pos,
            l_orderkey % 4 AS kind,
            (l_linenumber * 5) % 36 AS mmoff
          FROM lineitem),
        spans AS (
          SELECT DISTINCT ref, s, e FROM (
            SELECT ref, pos + 10 AS s, pos + 12 AS e FROM reads WHERE kind = 0
            UNION ALL
            SELECT ref, pos + 18 AS s, pos + 19 AS e FROM reads WHERE kind = 1
            UNION ALL
            SELECT ref, pos + mmoff AS s, pos + mmoff + 1 AS e
            FROM reads WHERE kind = 2)),
        flagged AS (
          SELECT ref, s, e,
            CASE WHEN max(e) OVER (PARTITION BY ref ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                 OR s > max(e) OVER (PARTITION BY ref ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 100
                 THEN 1 ELSE 0 END AS brk
          FROM spans),
        grp AS (
          SELECT ref, s, e, sum(brk) OVER (PARTITION BY ref ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
          FROM flagged)
        SELECT ref AS referenceName, CAST(min(s) AS BIGINT) AS "start",
          CAST(max(e) AS BIGINT) AS "end",
          ref || ':' || CAST(min(s) AS VARCHAR) AS targetId
        FROM grp GROUP BY ref, g""")),

    // ---- round-14 variant-QC censuses (operators/VariantQc.scala) ----

    // Ts/Tv census per brand: SNV classification + transition split on
    // synthesized ref/alt alleles (every 11th row a non-SNV indel).
    Query("q209_tstv_ratio",
      (s, dir) => graft.operators.VariantQc.tstvRatio(
        t(s, dir, "part").select(
          col("p_brand"),
          when(col("p_partkey") % 11 === 0, lit("AT"))
            .otherwise(expr(
              "substr('ACGT', cast(p_partkey % 4 as int) + 1, 1)"))
            .as("referenceAllele"),
          expr("substr('ACGT', cast((p_partkey % 4 + p_partkey % 3 + 1)" +
            " % 4 as int) + 1, 1)").as("alternateAllele")),
        "p_brand"),
      Some("""WITH v AS (SELECT p_brand,
            CASE WHEN p_partkey % 11 = 0 THEN 'AT'
              ELSE substr('ACGT', CAST(p_partkey % 4 AS INT) + 1, 1)
              END AS r,
            substr('ACGT',
              CAST((p_partkey % 4 + p_partkey % 3 + 1) % 4 AS INT) + 1,
              1) AS a
          FROM part),
        c AS (SELECT p_brand,
            CASE WHEN length(r) = 1 AND length(a) = 1 AND r <> a
              AND r IN ('A','C','G','T') AND a IN ('A','C','G','T')
              THEN 1 ELSE 0 END AS snv,
            CASE WHEN (r IN ('A','G') AND a IN ('A','G'))
              OR (r IN ('C','T') AND a IN ('C','T'))
              THEN 1 ELSE 0 END AS ts
          FROM v)
        SELECT p_brand, CAST(sum(snv) AS BIGINT) AS n_snv,
          CAST(sum(CASE WHEN snv = 1 AND ts = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ts,
          CAST(sum(CASE WHEN snv = 1 AND ts = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tv,
          CASE WHEN sum(CASE WHEN snv = 1 AND ts = 0 THEN 1 ELSE 0 END)
              = 0 THEN NULL
            ELSE CAST(sum(CASE WHEN snv = 1 AND ts = 1 THEN 1 ELSE 0
                END) AS DOUBLE)
              / CAST(sum(CASE WHEN snv = 1 AND ts = 0 THEN 1 ELSE 0
                END) AS DOUBLE) END AS tstv
        FROM c GROUP BY 1""")),

    // Hardy-Weinberg chi-square per site (nation = site, genotype class
    // from custkey arithmetic): exact closed-form integers, limb-cast
    // double division on both sides.
    Query("q210_hardy_weinberg",
      (s, dir) => graft.operators.VariantQc.hardyWeinberg(
        t(s, dir, "customer").select(
          col("c_nationkey").cast("long").as("site"),
          when((col("c_custkey") * 7) % 10 < 4, lit(0))
            .when((col("c_custkey") * 7) % 10 < 8, lit(1))
            .otherwise(lit(2)).as("gt")),
        "site", "gt"),
      Some(s"""WITH g AS (SELECT CAST(c_nationkey AS BIGINT) AS site,
          |    CASE WHEN (c_custkey * 7) % 10 < 4 THEN 0
          |      WHEN (c_custkey * 7) % 10 < 8 THEN 1 ELSE 2 END AS gt
          |  FROM customer),
          |a AS (SELECT site, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS HUGEINT)
          |      AS ha,
          |    CAST(sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS HUGEINT)
          |      AS hh,
          |    CAST(sum(CASE WHEN gt = 2 THEN 1 ELSE 0 END) AS HUGEINT)
          |      AS hc
          |  FROM g GROUP BY 1),
          |d AS (SELECT site, n, ha, hh, hc,
          |    2 * ha + hh AS ra, 2 * hc + hh AS aa,
          |    4 * ha * hc - hh * hh AS dev
          |  FROM a)
          |SELECT site, n, CAST(ha AS BIGINT) AS n_hom_ref,
          |  CAST(hh AS BIGINT) AS n_het, CAST(hc AS BIGINT) AS n_hom_alt,
          |  CASE WHEN n = 0 THEN NULL
          |    ELSE CAST(least(ra, aa) AS DOUBLE)
          |      / CAST(2 * CAST(n AS HUGEINT) AS DOUBLE) END AS maf,
          |  CASE WHEN ra = 0 OR aa = 0 THEN NULL
          |    ELSE ${limbSql("CAST(n AS HUGEINT) * dev * dev")}
          |      / ${limbSql("ra * ra * aa * aa")} END AS chi2
          |FROM d""".stripMargin)),

    // Genotype-concordance confusion grid between a callset and a
    // perturbed twin (every 13th call flipped to HET, every 17th/19th
    // missing on one side) — the GIAB-benchmarking join shape.
    Query("q211_genotype_concordance",
      (s, dir) => {
        val base = t(s, dir, "orders").select(col("o_orderkey"),
          when(col("o_orderkey") % 5 < 2, lit("HOM_REF"))
            .when(col("o_orderkey") % 5 < 4, lit("HET"))
            .otherwise(lit("HOM_ALT")).as("cls"))
        val a = base.filter(col("o_orderkey") % 19 =!= 0)
        val b = base.filter(col("o_orderkey") % 17 =!= 0)
          .withColumn("cls",
            when(col("o_orderkey") % 13 === 0, lit("HET"))
              .otherwise(col("cls")))
        graft.operators.VariantQc.genotypeConcordance(
          a, b, Seq("o_orderkey"), "cls")
      },
      Some("""WITH base AS (SELECT o_orderkey,
            CASE WHEN o_orderkey % 5 < 2 THEN 'HOM_REF'
              WHEN o_orderkey % 5 < 4 THEN 'HET'
              ELSE 'HOM_ALT' END AS cls
          FROM orders),
        a AS (SELECT o_orderkey, cls FROM base WHERE o_orderkey % 19 <> 0),
        b AS (SELECT o_orderkey,
            CASE WHEN o_orderkey % 13 = 0 THEN 'HET' ELSE cls END AS cls
          FROM base WHERE o_orderkey % 17 <> 0)
        SELECT coalesce(a.cls, 'MISSING') AS class_a,
          coalesce(b.cls, 'MISSING') AS class_b,
          CAST(count(*) AS BIGINT) AS n
        FROM a FULL OUTER JOIN b USING (o_orderkey)
        GROUP BY 1, 2""")),

    // Allele-frequency spectrum: 20 equal-width bins of AC/AN with the
    // ac = an edge clamped into the last bin and AN <= 0 rows excluded.
    Query("q212_af_spectrum",
      (s, dir) => graft.operators.VariantQc.alleleFrequencySpectrum(
        t(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("ac"),
          when(col("l_partkey") % 97 === 0, lit(0L))
            .otherwise(lit(40L) + (col("l_orderkey") % 3) * 10L)
            .as("an")),
        "ac", "an", bins = 20),
      Some("""WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS ac,
            CASE WHEN l_partkey % 97 = 0 THEN 0
              ELSE 40 + (l_orderkey % 3) * 10 END AS an
          FROM lineitem)
        SELECT least((ac * 20) // an, 19) AS bin,
          CAST(count(*) AS BIGINT) AS n_sites
        FROM v WHERE an > 0 AND ac >= 0
        GROUP BY 1""")),

    // Coverage uniformity per contig: integer-floor mean depth and the
    // permille of bases within +-50% of it — two map-side scans, the
    // bounded per-contig means broadcast back (never a 25-task window).
    Query("q213_coverage_uniformity",
      (s, dir) => graft.operators.VariantQc.coverageUniformity(
        t(s, dir, "lineitem").select(
          col("l_returnflag").as("referenceName"),
          col("l_partkey").cast("long").as("start"),
          (col("l_partkey") + 1 + col("l_linenumber") % 5)
            .cast("long").as("end"),
          col("l_quantity").cast("long").as("count"))),
      Some("""WITH cov AS (SELECT l_returnflag AS ref,
            CAST(1 + l_linenumber % 5 AS HUGEINT) AS len,
            CAST(l_quantity AS HUGEINT) AS cnt
          FROM lineitem),
        m AS (SELECT ref, CAST(sum(len) AS BIGINT) AS bases,
            CAST(sum(len * cnt) // sum(len) AS BIGINT) AS mean_depth
          FROM cov GROUP BY 1),
        j AS (SELECT cov.ref, m.bases, m.mean_depth,
            CASE WHEN cnt * 2 >= mean_depth AND cnt * 2 <= mean_depth * 3
              THEN len ELSE 0 END AS inb
          FROM cov JOIN m ON cov.ref = m.ref)
        SELECT ref AS referenceName, bases, mean_depth,
          CAST(sum(inb) * 1000 // bases AS BIGINT)
            AS within_band_permille
        FROM j GROUP BY 1, 2, 3""")),

    // Mendelian-consistency grid over synthesized trios: bounded 27-row
    // (father, mother, child) census with the biallelic violation flag.
    Query("q214_mendelian_grid",
      (s, dir) => graft.operators.VariantQc.mendelianViolations(
        t(s, dir, "customer").select(
          (col("c_custkey") % 3).cast("int").as("f"),
          expr("cast((c_custkey div 3) % 3 as int)").as("m"),
          expr("cast((c_custkey div 9) % 3 as int)").as("c")),
        "f", "m", "c"),
      Some("""WITH t AS (SELECT CAST(c_custkey % 3 AS INT) AS f,
            CAST((c_custkey // 3) % 3 AS INT) AS m,
            CAST((c_custkey // 9) % 3 AS INT) AS c
          FROM customer)
        SELECT f AS father_gt, m AS mother_gt, c AS child_gt,
          NOT ((c = 0 AND m <= 1 AND f <= 1)
            OR (c = 2 AND m >= 1 AND f >= 1)
            OR (c = 1 AND ((m <= 1 AND f >= 1) OR (m >= 1 AND f <= 1))))
            AS violation,
          CAST(count(*) AS BIGINT) AS n
        FROM t GROUP BY 1, 2, 3, 4""")),

    // KING-robust pairwise kinship over a 7-sample cohort synthesized
    // from lineitem ((orderkey, linenumber) is the PK, so (site,
    // sample) is unique by construction): exact integer pair census,
    // one double division.
    Query("q218_king_kinship",
      (s, dir) => graft.operators.VariantQc.kingKinship(
        t(s, dir, "lineitem").select(
          col("l_orderkey").as("site"),
          concat(lit("s"), col("l_linenumber").cast("string"))
            .as("sample_id"),
          ((col("l_partkey") + col("l_linenumber")) % 3).cast("int")
            .as("gt")),
        "sample_id", "site", "gt"),
      Some("""WITH g AS (SELECT l_orderkey AS site,
            's' || CAST(l_linenumber AS VARCHAR) AS s,
            CAST((l_partkey + l_linenumber) % 3 AS INT) AS gt
          FROM lineitem)
        SELECT a.s AS sample_i, b.s AS sample_j,
          CAST(count(*) AS BIGINT) AS n_shared,
          CAST(sum(CASE WHEN a.gt = 1 AND b.gt = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_both_het,
          CAST(sum(CASE WHEN abs(a.gt - b.gt) = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_opp_hom,
          CAST(sum(CASE WHEN a.gt = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_het_i,
          CAST(sum(CASE WHEN b.gt = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_het_j,
          CASE WHEN sum(CASE WHEN a.gt = 1 THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.gt = 1 THEN 1 ELSE 0 END) = 0 THEN NULL
            ELSE CAST(sum(CASE WHEN a.gt = 1 AND b.gt = 1
                THEN 1 ELSE 0 END)
                - 2 * sum(CASE WHEN abs(a.gt - b.gt) = 2
                  THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(sum(CASE WHEN a.gt = 1 THEN 1 ELSE 0 END)
                + sum(CASE WHEN b.gt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            END AS kinship
        FROM g a JOIN g b ON a.site = b.site AND a.s < b.s
        GROUP BY 1, 2""")),

    // Per-sample inbreeding coefficient F on the same synthesized
    // cohort: per-site expected-het quantized at 1e7 with exact
    // integer floors, limb-cast final divisions on both sides.
    Query("q219_inbreeding_f",
      (s, dir) => graft.operators.VariantQc.inbreedingF(
        t(s, dir, "lineitem").select(
          col("l_orderkey").as("site"),
          concat(lit("s"), col("l_linenumber").cast("string"))
            .as("sample_id"),
          ((col("l_partkey") + col("l_linenumber")) % 3).cast("int")
            .as("gt")),
        "sample_id", "site", "gt"),
      Some(s"""WITH g AS (SELECT l_orderkey AS site,
           |    's' || CAST(l_linenumber AS VARCHAR) AS s,
           |    CAST((l_partkey + l_linenumber) % 3 AS INT) AS gt
           |  FROM lineitem),
           |sites AS (SELECT site, CAST(sum(gt) AS HUGEINT) AS ac,
           |    CAST(2 * count(*) AS HUGEINT) AS an
           |  FROM g GROUP BY 1),
           |sq AS (SELECT site,
           |    (2 * ac * (an - ac) * 10000000) // (an * an) AS eq
           |  FROM sites),
           |per AS (SELECT s, CAST(count(*) AS BIGINT) AS n_called,
           |    CAST(sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_het,
           |    CAST(sum(eq) AS HUGEINT) AS ehetq
           |  FROM g JOIN sq USING (site) GROUP BY 1)
           |SELECT s AS sample_id, n_called, n_het,
           |  ${limbSql("ehetq")} / 1e7 AS exp_het,
           |  CASE WHEN ehetq <= 0 THEN NULL
           |    ELSE 1.0 - ${limbSql("CAST(n_het AS HUGEINT) * 10000000")}
           |      / ${limbSql("ehetq")} END AS f
           |FROM per""".stripMargin)),

    // Full 12-class SNV substitution census with exact permille shares
    // — the q209 allele synthesis, classed by (ref > alt) instead of
    // collapsed to Ts/Tv.
    Query("q220_substitution_matrix",
      (s, dir) => graft.operators.VariantQc.substitutionMatrix(
        t(s, dir, "part").select(
          when(col("p_partkey") % 11 === 0, lit("AT"))
            .otherwise(expr(
              "substr('ACGT', cast(p_partkey % 4 as int) + 1, 1)"))
            .as("referenceAllele"),
          expr("substr('ACGT', cast((p_partkey % 4 + p_partkey % 3 + 1)" +
            " % 4 as int) + 1, 1)").as("alternateAllele"))),
      Some("""WITH v AS (SELECT
            CASE WHEN p_partkey % 11 = 0 THEN 'AT'
              ELSE substr('ACGT', CAST(p_partkey % 4 AS INT) + 1, 1)
              END AS r,
            substr('ACGT',
              CAST((p_partkey % 4 + p_partkey % 3 + 1) % 4 AS INT) + 1,
              1) AS a
          FROM part),
        c AS (SELECT upper(r) AS ref_allele, upper(a) AS alt_allele
          FROM v
          WHERE length(r) = 1 AND length(a) = 1 AND r <> a
            AND r IN ('A','C','G','T') AND a IN ('A','C','G','T')),
        m AS (SELECT ref_allele, alt_allele,
            CAST(count(*) AS BIGINT) AS n
          FROM c GROUP BY 1, 2),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM m)
        SELECT ref_allele, alt_allele, n, n * 1000 // tt AS permille
        FROM m CROSS JOIN t""")),

    // Indel length spectrum over synthesized variable-length alleles
    // (1 in 13 carries an N ref — excluded by the ACGT contract);
    // maxAbsLen = 4 exercises the edge-bin clamp.
    Query("q221_indel_spectrum",
      (s, dir) => graft.operators.VariantQc.indelLengthSpectrum(
        t(s, dir, "part").select(
          when(col("p_partkey") % 13 === 0, lit("N"))
            .otherwise(expr("substr('ACGTACGTACGT', 1," +
              " 1 + cast(p_partkey % 6 as int))"))
            .as("referenceAllele"),
          expr("substr('ACGTACGTACGT', 2," +
            " 1 + cast(p_partkey % 4 as int))").as("alternateAllele")),
        maxAbsLen = 4),
      Some("""WITH v AS (SELECT
            CASE WHEN p_partkey % 13 = 0 THEN 'N'
              ELSE substr('ACGTACGTACGT', 1,
                1 + CAST(p_partkey % 6 AS INT)) END AS r,
            substr('ACGTACGTACGT', 2,
              1 + CAST(p_partkey % 4 AS INT)) AS a
          FROM part)
        SELECT CAST(greatest(least(length(a) - length(r), 4), -4)
            AS INT) AS dlen,
          CAST(count(*) AS BIGINT) AS n_indels
        FROM v
        WHERE regexp_matches(r, '^[ACGT]+$')
          AND regexp_matches(a, '^[ACGT]+$')
          AND length(r) <> length(a)
        GROUP BY 1""")),

    // Per-sample call-rate / genotype-class census with NULL-gt
    // missingness (1 in 13) and out-of-range codes (gt = 3 -> 'other').
    Query("q222_call_rate",
      (s, dir) => graft.operators.VariantQc.callRate(
        t(s, dir, "customer").select(
          concat(lit("s"), (col("c_custkey") % 10).cast("string"))
            .as("sample_id"),
          when(col("c_custkey") % 13 === 0, lit(null).cast("int"))
            .otherwise((col("c_custkey") % 4).cast("int")).as("gt")),
        "sample_id", "gt"),
      Some("""WITH g AS (SELECT
            's' || CAST(c_custkey % 10 AS VARCHAR) AS s,
            CASE WHEN c_custkey % 13 = 0 THEN NULL
              ELSE CAST(c_custkey % 4 AS INT) END AS gt
          FROM customer)
        SELECT s AS sample_id, CAST(count(*) AS BIGINT) AS n_total,
          CAST(sum(CASE WHEN gt IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_called,
          CAST(sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_het,
          CAST(sum(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hom_ref,
          CAST(sum(CASE WHEN gt = 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hom_alt,
          CAST(sum(CASE WHEN gt IS NOT NULL AND gt NOT IN (0, 1, 2)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
          CAST(sum(CASE WHEN gt IS NOT NULL THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS call_rate_permille,
          CAST(CASE
            WHEN sum(CASE WHEN gt IS NOT NULL THEN 1 ELSE 0 END) = 0
            THEN NULL
            ELSE sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) * 1000
              // sum(CASE WHEN gt IS NOT NULL THEN 1 ELSE 0 END)
            END AS BIGINT) AS het_permille
        FROM g GROUP BY 1"""))
  )

  /** Alignment rows synthesized from lineitem for the read-algorithm
    * oracles (q49/q50): one read per lineitem row at
    * (orderkey%4, partkey*7+linenumber mod 10000), caller-chosen
    * sequence/quality/CIGAR/MD/strand columns — all pure column arithmetic
    * so the SQL twin states the identical read set. */
  private def synthReads(
      s: SparkSession, dir: String,
      sequence: org.apache.spark.sql.Column, quality: org.apache.spark.sql.Column,
      cigar: org.apache.spark.sql.Column, md: org.apache.spark.sql.Column,
      neg: org.apache.spark.sql.Column, inFragment: org.apache.spark.sql.Column,
      readGroup: org.apache.spark.sql.Column): org.apache.spark.sql.Dataset[graft.model.Alignment] = {
    implicit val alignEnc: org.apache.spark.sql.Encoder[graft.model.Alignment] =
      org.apache.spark.sql.Encoders.product[graft.model.Alignment]
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    val nullI = lit(null).cast("int")
    val nullB = lit(null).cast("boolean")
    val start = (col("l_partkey") * 7 + col("l_linenumber")) % 10000
    t(s, dir, "lineitem").select(
      (col("l_orderkey") % 4).cast("string").as("referenceName"),
      start.as("start"),
      (start + 36).as("end"),
      nullL.as("originalStart"),
      concat_ws("-", lit("r"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")).as("readName"),
      sequence.as("sequence"),
      quality.as("qualityScores"),
      cigar.as("cigar"),
      nullS.as("originalCigar"),
      nullI.as("basesTrimmedFromStart"), nullI.as("basesTrimmedFromEnd"),
      lit(60).as("mappingQuality"),
      lit(false).as("readPaired"), nullB.as("properPair"),
      lit(true).as("readMapped"), nullB.as("mateMapped"),
      inFragment.as("readInFragment"),
      nullB.as("failedVendorQualityChecks"), nullB.as("duplicateRead"),
      neg.as("readNegativeStrand"), nullB.as("mateNegativeStrand"),
      lit(true).as("primaryAlignment"), lit(false).as("secondaryAlignment"),
      lit(false).as("supplementaryAlignment"),
      md.as("mismatchingPositions"), nullS.as("mateReferenceName"),
      nullL.as("mateAlignmentStart"), nullL.as("insertSize"),
      readGroup.as("readGroupId"), nullS.as("readGroupSampleId"),
      expr("cast(map() as map<string,string>)").as("attributes")
    ).as[graft.model.Alignment]
  }
}
