package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.CaseMap
import org.apache.spark.sql.types.DecimalType

/** Variant / callset quality-control censuses — the bcftools-stats /
  * CollectVariantCallingMetrics / peddy family a production genomics
  * pipeline runs after every call set lands, re-expressed as exact
  * integer Spark aggregations (the reference delegates these to
  * downstream tools; at 100 TB they belong in the engine, next to the
  * data).
  *
  * Every operator here follows the engine-parity conventions
  * (queries/Q.scala): exact integer counts in the aggregation, at most
  * ONE double division per output column, so a DuckDB oracle replays
  * the result bit-for-bit.
  */
object VariantQc {

  private val dec = DecimalType(38, 0)

  /** Transition/transversion census per group — the first sanity number
    * a geneticist reads off a call set (genome-wide Ts/Tv ≈ 2.0-2.1;
    * a ratio near 0.5 = random noise). SNVs only: single-base
    * REF != ALT, both in ACGT; transitions are A<->G and C<->T.
    *
    * Output per group: (groupCol, n_snv, n_ts, n_tv, tstv) — tstv NULL
    * when n_tv = 0.
    *
    * Scale: ONE map-side-combined keyed aggregation; the SNV/transition
    * classification is per-row codegen'd CASE logic, no UDF. */
  def tstvRatio(variants: DataFrame, groupCol: String,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele"): DataFrame =
    tstvFromCounts(tstvCounts(variants, groupCol, refCol, altCol),
      groupCol)

  /** The mergeable (group, class, count) grid phase of [[tstvRatio]] —
    * class ∈ ts/tv/other, ONE map-side-combined aggregation. Counts
    * add, so the same unresolved plan runs as a complete-mode streaming
    * aggregation (micro-batch partials ARE the batch combine), which is
    * what [[graft.streaming.EventStreams.streamingTstvCounts]] delegates
    * to — one definition, the shared-phase rule. */
  def tstvCounts(variants: DataFrame, groupCol: String,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele"): DataFrame = {
    val r = CaseMap.upper(col(refCol))
    val a = CaseMap.upper(col(altCol))
    val isSnv = length(r) === 1 && length(a) === 1 && r =!= a &&
      r.isin("A", "C", "G", "T") && a.isin("A", "C", "G", "T")
    val isTs = (r.isin("A", "G") && a.isin("A", "G")) ||
      (r.isin("C", "T") && a.isin("C", "T"))
    // NULL ref/alt makes isSnv evaluate to SQL NULL, which would skip
    // BOTH when() branches and fall through to "tv" — classify such
    // rows as "other" explicitly (a null allele is never an SNV).
    variants
      .select(col(groupCol).as("__g"),
        when(isSnv.isNull || !isSnv, "other").when(isTs, "ts")
          .otherwise("tv").as("__cls"))
      .groupBy("__g", "__cls")
      .agg(count(lit(1)).as("__c"))
  }

  /** Finish [[tstvRatio]] from a (__g, __cls, __c) grid — the shape
    * [[tstvCounts]] produces and a streaming monitor maintains as
    * complete-mode state. The pivot is a keyed aggregation over the
    * bounded (|groups|·3) grid. */
  def tstvFromCounts(grid: DataFrame, groupCol: String): DataFrame =
    grid
      .groupBy("__g")
      .agg(
        sum(when(col("__cls") =!= "other", col("__c")).otherwise(0L))
          .as("n_snv"),
        sum(when(col("__cls") === "ts", col("__c")).otherwise(0L))
          .as("n_ts"),
        sum(when(col("__cls") === "tv", col("__c")).otherwise(0L))
          .as("n_tv"))
      .select(col("__g").as(groupCol), col("n_snv"), col("n_ts"),
        col("n_tv"),
        when(col("n_tv") === 0, lit(null).cast("double"))
          .otherwise(col("n_ts").cast("double") /
            col("n_tv").cast("double")).as("tstv"))

  /** Hardy-Weinberg equilibrium chi-square per site from biallelic
    * genotype classes (`gtClass` = alt-allele count 0/1/2) — the
    * population-genetics QC that flags genotyping artifacts (excess
    * heterozygosity) site by site.
    *
    * Uses the closed form chi2 = n·(4·nAA·naa − nAa²)² /
    * ((2·nAA+nAa)²·(2·naa+nAa)²) — algebraically identical to the
    * textbook Σ(obs−exp)²/exp but with every term an exact DECIMAL
    * integer and the result ONE double division (engine-identical;
    * verified against the direct form in the spec). Monomorphic sites
    * (an allele absent) report NULL chi2 (HWE is undefined). maf is the
    * minor-allele fraction, one double division.
    *
    * Output per site: (siteCol, n, n_hom_ref, n_het, n_hom_alt, maf,
    * chi2).
    *
    * Scale: ONE map-side-combined keyed aggregation; site cardinality
    * unbounded (per-site rows only ever merge, never sort). */
  def hardyWeinberg(genotypes: DataFrame, siteCol: String,
      gtClassCol: String): DataFrame = {
    val g = col(gtClassCol)
    val agg = genotypes
      .groupBy(siteCol)
      .agg(count(lit(1)).as("n"),
        sum(when(g === 0, 1L).otherwise(0L)).cast(dec).as("__a"),
        sum(when(g === 1, 1L).otherwise(0L)).cast(dec).as("__h"),
        sum(when(g === 2, 1L).otherwise(0L)).cast(dec).as("__c"))
    val refAlleles = (lit(2).cast(dec) * col("__a") + col("__h")).cast(dec)
    val altAlleles = (lit(2).cast(dec) * col("__c") + col("__h")).cast(dec)
    val dev = (lit(4).cast(dec) * col("__a") * col("__c") -
      col("__h") * col("__h")).cast(dec)
    agg.select(col(siteCol), col("n"),
      col("__a").cast("long").as("n_hom_ref"),
      col("__h").cast("long").as("n_het"),
      col("__c").cast("long").as("n_hom_alt"),
      when(col("n") === 0, lit(null).cast("double"))
        .otherwise(least(refAlleles, altAlleles).cast("double") /
          (lit(2).cast(dec) * col("n")).cast("double")).as("maf"),
      // the chi2 integers exceed 2^53 at population scale — enter
      // double-land through the engine-identical limb split, never a
      // direct wide-decimal cast (DuckDB's HUGEINT->DOUBLE is not
      // correctly rounded past 2^53; the q199 recipe)
      when(refAlleles === 0 || altAlleles === 0,
        lit(null).cast("double"))
        .otherwise(
          Stats.limbDouble((col("n").cast(dec) * dev * dev).cast(dec)) /
            Stats.limbDouble(
              (refAlleles * refAlleles * altAlleles * altAlleles)
                .cast(dec))).as("chi2"))
  }

  /** Genotype concordance grid between two callsets — the GIAB-style
    * benchmarking core ("how does my pipeline's call set compare to the
    * truth set?"): a null-safe full-outer join on the site/sample keys,
    * classes missing on one side count as 'MISSING', and the output is
    * the bounded |classes+1|² confusion grid.
    *
    * Output: (class_a, class_b, n).
    *
    * Scale: ONE keyed shuffle join (both sides hash-partitioned on the
    * keys — data never broadcasts) + a map-side-combined count of the
    * bounded grid. */
  def genotypeConcordance(a: DataFrame, b: DataFrame,
      keyCols: Seq[String], classCol: String): DataFrame = {
    require(keyCols.nonEmpty, "genotypeConcordance needs join keys")
    val la = a.select(keyCols.map(col) :+
      col(classCol).cast("string").as("__ca"): _*)
    val lb = b.select(keyCols.map(col) :+
      col(classCol).cast("string").as("__cb"): _*)
    la.join(lb, keyCols, "full_outer")
      .select(coalesce(col("__ca"), lit("MISSING")).as("class_a"),
        coalesce(col("__cb"), lit("MISSING")).as("class_b"))
      .groupBy("class_a", "class_b")
      .agg(count(lit(1)).as("n"))
  }

  /** Allele-frequency spectrum — the site-frequency histogram every
    * population callset is summarized by: allele count `acCol` over
    * allele number `anCol` binned into `bins` equal-width frequency
    * bins (`bin = ac·bins div an`, the ac == an edge clamped into the
    * last bin). Rows with NULL or non-positive AN are excluded (no
    * frequency is defined).
    *
    * Output per bin: (bin, n_sites).
    *
    * Scale: per-row integer arithmetic + ONE map-side-combined count of
    * the bounded bin grid. */
  def alleleFrequencySpectrum(variants: DataFrame, acCol: String,
      anCol: String, bins: Int = 20): DataFrame =
    afsFromCounts(afsCounts(variants, acCol, anCol, bins))

  /** The mergeable (bin, __c) grid phase of
    * [[alleleFrequencySpectrum]] — counts add, so the same plan runs as
    * a complete-mode streaming aggregation
    * ([[graft.streaming.EventStreams.streamingAfsCounts]] delegates
    * here — one definition, the shared-phase rule). */
  def afsCounts(variants: DataFrame, acCol: String, anCol: String,
      bins: Int = 20): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    val ac = col(acCol).cast("long")
    val an = col(anCol).cast("long")
    variants
      .filter(an.isNotNull && an > 0 && ac.isNotNull && ac >= 0)
      .select(least(
        expr(s"(cast($acCol as bigint) * $bins) div " +
          s"cast($anCol as bigint)"),
        lit(bins - 1L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("__c"))
  }

  /** Finish [[alleleFrequencySpectrum]] from a (bin, __c) grid — one
    * merging aggregation over the bounded (≤ bins) grid. */
  def afsFromCounts(grid: DataFrame): DataFrame =
    grid.groupBy("bin").agg(sum("__c").as("n_sites"))

  /** Coverage-uniformity census per contig from (referenceName, start,
    * end, count) coverage intervals — the evenness check behind "is 30x
    * mean coverage actually 30x everywhere, or 300x in repeats and 3x
    * in GC deserts": integer-floor mean depth and the permille of bases
    * whose depth lies within ±50 % of that mean (2·depth in
    * [mean, 3·mean]).
    *
    * Output per contig: (referenceName, bases, mean_depth,
    * within_band_permille).
    *
    * Scale: TWO map-side-combined scans and zero wide exchanges — the
    * per-contig means (bounded: one row per contig) broadcast back onto
    * the second scan instead of windowing the data by contig (25
    * contigs would mean 25-task skew at 100 TB). */
  def coverageUniformity(coverage: DataFrame): DataFrame = {
    val len = (col("end") - col("start")).cast(dec)
    val means = coverage
      .groupBy("referenceName")
      .agg(sum(len).cast(dec).as("__bases"),
        sum((len * col("count").cast(dec)).cast(dec)).cast(dec)
          .as("__wsum"))
      .select(col("referenceName"),
        col("__bases").cast("long").as("bases"),
        ((col("__wsum") - pmod(col("__wsum"), col("__bases"))) /
          col("__bases")).cast("long").as("mean_depth"))
    coverage
      .join(broadcast(means), Seq("referenceName"))
      .groupBy(col("referenceName"), col("bases"), col("mean_depth"))
      .agg(sum(when(col("count").cast("long") * 2 >= col("mean_depth") &&
          col("count").cast("long") * 2 <= col("mean_depth") * 3,
        (col("end") - col("start")).cast("long")).otherwise(0L))
        .as("__in"))
      .select(col("referenceName"), col("bases"), col("mean_depth"),
        expr("__in * 1000 div bases").as("within_band_permille"))
  }

  /** Mendelian-consistency grid over trio genotype classes (0/1/2 =
    * child/mother/father alt-allele counts) — the pedigree QC that
    * catches sample swaps and genotyping error: a child genotype is a
    * violation when no combination of one maternal and one paternal
    * allele can produce it (biallelic autosomal rules).
    *
    * Output: the bounded 27-row (father_gt, mother_gt, child_gt, n,
    * violation) grid — callers sum `n where violation` for the rate.
    *
    * Scale: per-row boolean logic + ONE map-side-combined count of the
    * bounded grid. */
  def mendelianViolations(trios: DataFrame, fatherCol: String,
      motherCol: String, childCol: String): DataFrame =
    mendelianFromCounts(
      mendelianCounts(trios, fatherCol, motherCol, childCol))

  /** The mergeable census grid phase of [[mendelianViolations]] —
    * counts add, so the same plan runs as a complete-mode streaming
    * aggregation
    * ([[graft.streaming.EventStreams.streamingMendelianCounts]]
    * delegates here — one definition, the shared-phase rule). */
  def mendelianCounts(trios: DataFrame, fatherCol: String,
      motherCol: String, childCol: String): DataFrame = {
    val f = col(fatherCol).cast("int")
    val m = col(motherCol).cast("int")
    val c = col(childCol).cast("int")
    val m0 = m <= 1 // mother can donate a ref allele
    val m1 = m >= 1 // mother can donate an alt allele
    val f0 = f <= 1
    val f1 = f >= 1
    val ok = (c === 0 && m0 && f0) ||
      (c === 2 && m1 && f1) ||
      (c === 1 && ((m0 && f1) || (m1 && f0)))
    trios
      .select(f.as("father_gt"), m.as("mother_gt"), c.as("child_gt"),
        (!ok).as("violation"))
      .groupBy("father_gt", "mother_gt", "child_gt", "violation")
      .agg(count(lit(1)).as("__c"))
  }

  /** Finish [[mendelianViolations]] from the census grid — one merging
    * aggregation over the bounded 27-row grid. */
  def mendelianFromCounts(grid: DataFrame): DataFrame =
    grid
      .groupBy("father_gt", "mother_gt", "child_gt", "violation")
      .agg(sum("__c").as("n"))

  /** Pairwise KING-robust kinship over a bounded sample cohort — the
    * relatedness QC (sample swaps, unexpected duplicates, cryptic
    * relatedness) every cohort callset runs before association work.
    * Per sample pair (i, j) over their shared biallelic sites, with
    * N_Aa,Aa = both-heterozygous sites, N_AA,aa = opposite-homozygous
    * sites, and N_Aa,i / N_Aa,j each sample's heterozygous count on the
    * shared sites, the between-family estimator of Manichaikul et al.
    * 2010 (KING) is
    * `kinship = (N_Aa,Aa − 2·N_AA,aa) / (N_Aa,i + N_Aa,j)` —
    * 0.5 for identical samples, ~0.25 parent-offspring, ~0 unrelated.
    * All four terms are exact integer counts (< 2^53 at any genome
    * scale — sites per pair bound them) and the estimate is ONE double
    * division, NULL when neither sample is ever heterozygous.
    *
    * Input: one row per (site, sample) with `gtCol` = alt-allele count
    * 0/1/2; rows with NULL or out-of-range gt are excluded. (site,
    * sample) must be unique — aggregate first.
    *
    * Output per pair (sample_i < sample_j lexicographically):
    * (sample_i, sample_j, n_shared, n_both_het, n_opp_hom, n_het_i,
    * n_het_j, kinship).
    *
    * Scale: the site self-join replicates each site's genotypes
    * S·(S−1)/2-fold — the irreducible pairwise cost — so the operator
    * carries a SELF-DEFENDING bounded-cohort guard (`maxSamples`,
    * default 1000 → ≤ ~500k pair keys): an unbounded biobank cohort
    * fails loudly instead of quietly exploding the join. Within the
    * bound, everything is keyed shuffles: the join keys on site
    * (samples-per-site fan-out is the cohort bound, not data volume)
    * and the census is ONE map-side-combined aggregation on the
    * bounded pair grid. */
  def kingKinship(genotypes: DataFrame, sampleCol: String,
      siteCol: String, gtCol: String,
      maxSamples: Long = 1000L): DataFrame = {
    // the projected frame feeds the cohort census AND both self-join
    // sides — three full input scans if unpersisted; persist it around
    // the guard and release via the bounded pair-grid result (tier 1,
    // operators/Caching.scala — the ksFromCounts pattern)
    val g0 = genotypes
      .filter(col(sampleCol).isNotNull && col(siteCol).isNotNull &&
        col(gtCol).isNotNull && col(gtCol).cast("int").between(0, 2))
      .select(col(siteCol).as("__site"),
        col(sampleCol).cast("string").as("__s"),
        col(gtCol).cast("int").as("__gt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scnt = g0.agg(countDistinct("__s").as("__sn"))
    val g = g0.crossJoin(broadcast(scnt))
      .filter(assert_true(col("__sn") <= lit(maxSamples),
        format_string("kingKinship cohort has %s samples (max %s) —" +
          " the pairwise join is quadratic in cohort size" +
          " (bounded-cohort contract)",
          col("__sn"), lit(maxSamples))).isNull)
      .drop("__sn")
    val a = g.select(col("__site"), col("__s").as("sample_i"),
      col("__gt").as("__gi"))
    val b = g.select(col("__site"), col("__s").as("sample_j"),
      col("__gt").as("__gj"))
    val out = a.join(b, Seq("__site"))
      .filter(col("sample_i") < col("sample_j"))
      .groupBy("sample_i", "sample_j")
      .agg(count(lit(1)).as("n_shared"),
        sum(when(col("__gi") === 1 && col("__gj") === 1, 1L)
          .otherwise(0L)).as("n_both_het"),
        sum(when(abs(col("__gi") - col("__gj")) === 2, 1L)
          .otherwise(0L)).as("n_opp_hom"),
        sum(when(col("__gi") === 1, 1L).otherwise(0L)).as("n_het_i"),
        sum(when(col("__gj") === 1, 1L).otherwise(0L)).as("n_het_j"))
      .select(col("sample_i"), col("sample_j"), col("n_shared"),
        col("n_both_het"), col("n_opp_hom"), col("n_het_i"),
        col("n_het_j"),
        when(col("n_het_i") + col("n_het_j") === 0,
          lit(null).cast("double"))
          .otherwise(
            (col("n_both_het") - lit(2L) * col("n_opp_hom"))
              .cast("double") /
              (col("n_het_i") + col("n_het_j")).cast("double"))
          .as("kinship"))
    Caching.materializeAndRelease(out, g0)
  }

  /** Per-sample inbreeding/consanguinity coefficient F — the
    * heterozygosity QC (F ≫ 0 flags consanguinity or genotyping loss
    * of heterozygosity; F ≪ 0 flags contamination): F = 1 −
    * observed_het / expected_het, where the expectation per called
    * site is 2p(1−p) from the cohort allele frequency at that site.
    *
    * Engine-parity: each site contributes the exact integer
    * `q = (2·ac·(an−ac)·1e7) div (an·an)` (all non-negative DECIMAL
    * terms, ONE integer floor — both engines agree), the per-sample
    * expectation is the exact integer sum of q over the sample's
    * called sites, and F is one fixed double chain through
    * [[Stats.limbDouble]] (the sums exceed 2^53 at population scale).
    *
    * Output per sample: (sampleCol, n_called, n_het, exp_het, f) — f
    * NULL when the expected heterozygosity is zero (all monomorphic).
    *
    * Scale: one keyed site aggregation (AF), one keyed join of the
    * genotypes back onto the bounded per-site row (shuffle on site —
    * data never broadcasts), one keyed sample aggregation. No windows,
    * no quadratic term — unlike [[kingKinship]] this is linear and
    * cohort-unbounded. */
  def inbreedingF(genotypes: DataFrame, sampleCol: String,
      siteCol: String, gtCol: String): DataFrame = {
    val g = genotypes
      .filter(col(sampleCol).isNotNull && col(siteCol).isNotNull &&
        col(gtCol).isNotNull && col(gtCol).cast("int").between(0, 2))
      .select(col(siteCol).as("__site"),
        col(sampleCol).cast("string").as("__s"),
        col(gtCol).cast("int").as("__gt"))
    val tenM = lit(10000000L).cast(dec)
    val num = (lit(2L).cast(dec) * col("__ac") *
      (col("__an") - col("__ac"))).cast(dec) * tenM
    val den = (col("__an") * col("__an")).cast(dec)
    val sites = g.groupBy("__site")
      .agg(sum(col("__gt").cast(dec)).cast(dec).as("__ac"),
        (count(lit(1)) * 2).cast(dec).as("__an"))
      .select(col("__site"),
        ((num - pmod(num, den)) / den).cast(dec).as("__eq"))
    g.join(sites, Seq("__site"))
      .groupBy("__s")
      .agg(count(lit(1)).as("n_called"),
        sum(when(col("__gt") === 1, 1L).otherwise(0L)).as("n_het"),
        sum(col("__eq")).cast(dec).as("__ehetq"))
      .select(col("__s").as(sampleCol), col("n_called"), col("n_het"),
        (Stats.limbDouble(col("__ehetq")) / lit(1e7)).as("exp_het"),
        when(col("__ehetq") <= 0, lit(null).cast("double"))
          .otherwise(lit(1.0) -
            Stats.limbDouble((col("n_het").cast(dec) * tenM).cast(dec)) /
              Stats.limbDouble(col("__ehetq"))).as("f"))
  }

  /** Full SNV substitution-type census — bcftools-stats' ST table: the
    * 12-cell (ref > alt) grid with each class's share of all SNVs in
    * permille (exact integer division). Ts/Tv collapses this grid to
    * two numbers; the full grid localizes WHICH substitution class an
    * artifact inflates (oxidative damage reads G>T, deamination C>T).
    *
    * Output per class: (ref_allele, alt_allele, n, permille).
    *
    * Scale: ONE map-side-combined count of the bounded 12-row grid;
    * the total is a broadcast 1-row re-aggregate of that grid. */
  def substitutionMatrix(variants: DataFrame,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele"): DataFrame =
    substitutionFromCounts(
      substitutionCounts(variants, refCol, altCol))

  /** The mergeable (ref, alt, count) grid phase of
    * [[substitutionMatrix]] — counts add, so the same plan runs as a
    * complete-mode streaming aggregation
    * ([[graft.streaming.EventStreams.streamingSubstitutionCounts]]
    * delegates here — one definition, the shared-phase rule). */
  def substitutionCounts(variants: DataFrame,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele"): DataFrame = {
    val r = CaseMap.upper(col(refCol))
    val a = CaseMap.upper(col(altCol))
    val isSnv = length(r) === 1 && length(a) === 1 && r =!= a &&
      r.isin("A", "C", "G", "T") && a.isin("A", "C", "G", "T")
    variants
      .filter(isSnv)
      .select(r.as("ref_allele"), a.as("alt_allele"))
      .groupBy("ref_allele", "alt_allele")
      .agg(count(lit(1)).as("__c"))
  }

  /** Finish [[substitutionMatrix]] from the (ref, alt, __c) grid — a
    * merging aggregation plus the broadcast grid total for the exact
    * permille share. */
  def substitutionFromCounts(grid: DataFrame): DataFrame = {
    val merged = grid.groupBy("ref_allele", "alt_allele")
      .agg(sum("__c").as("n"))
    val tot = merged.agg(sum("n").as("__t"))
    merged.crossJoin(broadcast(tot))
      .select(col("ref_allele"), col("alt_allele"), col("n"),
        expr("n * 1000 div __t").as("permille"))
  }

  /** Indel length spectrum — the insertion/deletion size histogram
    * (bcftools-stats IDD): for simple indels (both alleles non-empty
    * ACGT strings of different lengths), `dlen = len(alt) − len(ref)`
    * clamped to ±`maxAbsLen` (the tails pool into the edge bins, so
    * the grid stays bounded whatever a structural caller emits).
    * Deletions are negative. A spike at a specific |dlen| flags a
    * caller or alignment artifact; real spectra decay geometrically
    * with the 3n-periodic coding-region wobble.
    *
    * Output per length: (dlen, n_indels).
    *
    * Scale: per-row codegen'd classification + ONE map-side-combined
    * count of the bounded (≤ 2·maxAbsLen+1) grid. */
  def indelLengthSpectrum(variants: DataFrame,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele",
      maxAbsLen: Int = 20): DataFrame =
    indelFromCounts(indelCounts(variants, refCol, altCol, maxAbsLen))

  /** The mergeable (dlen, count) grid phase of
    * [[indelLengthSpectrum]] — counts add, so the same plan runs as a
    * complete-mode streaming aggregation
    * ([[graft.streaming.EventStreams.streamingIndelCounts]] delegates
    * here — one definition, the shared-phase rule). */
  def indelCounts(variants: DataFrame,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele",
      maxAbsLen: Int = 20): DataFrame = {
    require(maxAbsLen > 0, s"maxAbsLen must be positive: $maxAbsLen")
    val r = CaseMap.upper(col(refCol))
    val a = CaseMap.upper(col(altCol))
    val isIndel = r.rlike("^[ACGT]+$") && a.rlike("^[ACGT]+$") &&
      length(r) =!= length(a)
    variants
      .filter(isIndel)
      .select(greatest(least(length(a) - length(r), lit(maxAbsLen)),
        lit(-maxAbsLen)).cast("int").as("dlen"))
      .groupBy("dlen")
      .agg(count(lit(1)).as("__c"))
  }

  /** Finish [[indelLengthSpectrum]] from the (dlen, __c) grid — one
    * merging aggregation over the bounded grid. */
  def indelFromCounts(grid: DataFrame): DataFrame =
    grid.groupBy("dlen").agg(sum("__c").as("n_indels"))

  /** Per-sample call-rate / genotype-class census — the missingness QC
    * that flags failed samples before they poison downstream statistics
    * (a sample called at 60 % of sites biases every cohort AF it
    * touches). NULL `gtCol` rows are the site-was-not-called state;
    * 0/1/2 classify as hom-ref/het/hom-alt; anything else is 'other'
    * (caller-specific codes), counted as called but surfaced.
    *
    * Output per sample: (sampleCol, n_total, n_called, n_het,
    * n_hom_ref, n_hom_alt, n_other, call_rate_permille,
    * het_permille) — het share of CALLED sites, NULL when none.
    *
    * Scale: per-row classification + ONE map-side-combined count of
    * the (sample, class) grid; the pivot re-aggregates the grid.
    * Sample cardinality unbounded. */
  def callRate(genotypes: DataFrame, sampleCol: String,
      gtCol: String): DataFrame =
    callRateFromCounts(callRateCounts(genotypes, sampleCol, gtCol),
      sampleCol)

  /** The mergeable (sample, class, count) grid phase of [[callRate]] —
    * counts add, so the same plan runs as a complete-mode streaming
    * aggregation
    * ([[graft.streaming.EventStreams.streamingCallRateCounts]]
    * delegates here — one definition, the shared-phase rule). */
  def callRateCounts(genotypes: DataFrame, sampleCol: String,
      gtCol: String): DataFrame = {
    val gt = col(gtCol).cast("int")
    genotypes
      .filter(col(sampleCol).isNotNull)
      .select(col(sampleCol).as("__s"),
        when(gt.isNull, "missing")
          .when(gt === 0, "hom_ref")
          .when(gt === 1, "het")
          .when(gt === 2, "hom_alt")
          .otherwise("other").as("__cls"))
      .groupBy("__s", "__cls")
      .agg(count(lit(1)).as("__c"))
  }

  /** Finish [[callRate]] from the (__s, __cls, __c) grid — one keyed
    * pivot aggregation over the bounded (|samples|·5) grid. */
  def callRateFromCounts(grid: DataFrame,
      sampleCol: String): DataFrame = {
    def cnt(cls: String) =
      sum(when(col("__cls") === cls, col("__c")).otherwise(0L))
    grid
      .groupBy("__s")
      .agg(sum("__c").as("n_total"),
        sum(when(col("__cls") =!= "missing", col("__c")).otherwise(0L))
          .as("n_called"),
        cnt("het").as("n_het"), cnt("hom_ref").as("n_hom_ref"),
        cnt("hom_alt").as("n_hom_alt"), cnt("other").as("n_other"))
      .select(col("__s").as(sampleCol), col("n_total"), col("n_called"),
        col("n_het"), col("n_hom_ref"), col("n_hom_alt"),
        col("n_other"),
        expr("n_called * 1000 div n_total").as("call_rate_permille"),
        when(col("n_called") === 0, lit(null).cast("long"))
          .otherwise(expr("n_het * 1000 div n_called"))
          .as("het_permille"))
  }
}
