package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval-overlap (range) joins — the heart of the engine.
  *
  * The reference implements two hand-rolled families (broadcast interval-tree:
  * adam-core/.../ds/TreeRegionJoin.scala:33-90; co-partitioned sort-merge
  * sweep: ds/ShuffleRegionJoin.scala:35-493 driven by
  * GenomicDataset.scala:1798-3038) with eight public variants. Here all eight
  * are one declarative rewrite (SURVEY.md §2.4):
  *
  *   1. each side gains `__bin = explode(sequence(start/B, (end-1)/B))`
  *   2. equi-join on (referenceName, __bin) + the overlap theta predicate
  *   3. de-dup pairs that co-occur in several bins by keeping only the bin
  *      containing `greatest(l.start, r.start)`
  *
  * Catalyst then plans Exchange(hash on name,bin) → SortMergeJoin (or
  * BroadcastHashJoin when one side is small / hinted) with the theta as a
  * codegen'd post-filter. At 100 TB this is shuffle-minimal: the bin key is
  * dense and uniform, AQE handles residual skew, and no driver collect exists
  * anywhere (the reference collects partition bounds to the driver,
  * GenomicDataset.scala:744-747 — we never do).
  *
  * Column contract: both inputs expose `referenceName`, `start`, `end`
  * (long, 0-based half-open). All other columns pass through, left columns
  * prefixed `l_`, right `r_` in the flat-pair output.
  */
object RegionJoins {

  /** Default bin width in bases. Tuned so a bin's worth of a 100 TB dataset
    * still fits an executor task: smaller bins = more parallelism + fewer
    * spurious bin-pairs, at the cost of duplicating long intervals into more
    * bins. Records far longer than binSize are handled correctly (they
    * explode into every touched bin). */
  val DefaultBinSize = 10000L

  /** Sentinel binSize: derive the width from the inputs' interval-length
    * distribution via [[tunedBinSize]] before planning the join. */
  val Auto = 0L

  /** Upper clamp for auto-tuned bins: wider than this and bins stop pruning
    * (everything on a contig lands in a handful of buckets). 10 Mb covers
    * even megabase-scale structural variants at replication factor ≈ 2. */
  val MaxAutoBinSize = 10000000L

  /** Derive a bin width from the data: one aggregation over the two inputs'
    * (end - start) lengths, pruned to exactly two long columns at the scan.
    *
    * Rationale: a record replicates into `1 + len/binSize` bins, so choosing
    * binSize at the p95 length keeps expected replication ≤ ~2 for 95 % of
    * records. The constant [[DefaultBinSize]] is the FLOOR (short-read inputs
    * keep today's plan and parallelism exactly); the result rounds UP to a
    * multiple of the floor so bin boundaries stay aligned across joins that
    * tuned against different inputs, and clamps at [[MaxAutoBinSize]].
    * At 100 TB this is one column-pruned scan — amortize it by computing the
    * width once per dataset pair and passing the explicit value thereafter.
    * Output pairs are binSize-invariant (the bin is an implementation detail
    * deduped away), so tuning never changes results, only the plan. */
  def tunedBinSize(
      left: DataFrame,
      right: DataFrame,
      floor: Long = DefaultBinSize): Long = {
    val lens = left.select((col("end") - col("start")).as("len"))
      .unionAll(right.select((col("end") - col("start")).as("len")))
    val p95 = lens.agg(expr("approx_percentile(len, 0.95)").as("p"))
      .head().getAs[Any]("p") match {
        case null => floor
        case n: Number => n.longValue()
      }
    val rounded = ((math.max(p95, 1L) + floor - 1) / floor) * floor
    math.min(math.max(rounded, floor), MaxAutoBinSize)
  }

  private def binned(df: DataFrame, binSize: Long): DataFrame =
    df.withColumn(
      "__bin",
      explode(sequence(
        (col("start") / binSize).cast("long"),
        (greatest(col("start"), col("end") - 1) / binSize).cast("long"))))

  private def prefixed(df: DataFrame, p: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))

  /** True when the caller attached a broadcast hint AT THE TOP of this
    * plan (`functions.broadcast(df)` / `df.hint("broadcast")`), peeking
    * through pure projections/aliases. The join body must then NOT add its
    * shuffle_hash hint: the nearer hint would override the broadcast and
    * silently demote the join back to a shuffle. Deliberately NOT a
    * whole-subtree search — a broadcast hint buried in an unrelated
    * upstream join (e.g. a right side built from a query that broadcast
    * one of its own inputs) says nothing about THIS join and must not
    * suppress its shuffle_hash. */
  private def hasBroadcastHint(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      LogicalPlan, Project, SubqueryAlias, ResolvedHint, UnresolvedHint}
    @annotation.tailrec
    def top(p: LogicalPlan): Boolean = p match {
      case h: ResolvedHint => h.hints.strategy.exists(
        _.toString.toUpperCase.contains("BROADCAST"))
      case UnresolvedHint(n, _, child) =>
        Set("broadcast", "broadcastjoin", "mapjoin").contains(n.toLowerCase) ||
          top(child)
      case Project(_, child) => top(child)
      case SubqueryAlias(_, child) => top(child)
      case _ => false
    }
    top(df.queryExecution.logical)
  }

  /** shuffle_hash unless the caller pre-hinted broadcast. */
  private def hinted(r: DataFrame, original: DataFrame): DataFrame =
    if (hasBroadcastHint(original)) r else r.hint("shuffle_hash")

  private def flankedBin(df: DataFrame, binSize: Long, flank: Long): DataFrame =
    if (flank == 0L) binned(df, binSize)
    else
      // Pad each side's binning window by the flank so nearby-but-not-
      // overlapping pairs still meet in a bin (reference flankSize semantics,
      // GenomicDataset.scala:3024).
      df.withColumn(
        "__bin",
        explode(sequence(
          (greatest(col("start") - flank, lit(0L)) / binSize).cast("long"),
          (greatest(col("start"), col("end") - 1 + flank) / binSize).cast("long"))))

  /** Core join: returns the flat pair DataFrame for the requested joinType
    * (`inner`, `left_outer`, `right_outer`, `full_outer`).
    *
    * Equivalent of the reference's shuffleRegionJoin family
    * (GenomicDataset.scala:1798-2918); pass a `broadcast()`-hinted right side
    * for the broadcastRegionJoin family (GenomicDataset.scala:1108-1797).
    */
  def overlapJoin(
      left: DataFrame,
      right: DataFrame,
      joinType: String = "inner",
      binSize: Long = DefaultBinSize,
      flank: Long = 0L): DataFrame = {

    if (binSize == Auto)
      return overlapJoin(left, right, joinType, tunedBinSize(left, right), flank)

    val l = prefixed(flankedBin(left, binSize, flank), "l_")
      .withColumnRenamed("l___bin", "__bin")
    val r = prefixed(binned(right, binSize), "r_")
      .withColumnRenamed("r___bin", "__binR")

    val cond = {
      val overlap =
        col("l_referenceName") === col("r_referenceName") &&
          col("l_start") < col("r_end") + flank &&
          col("r_start") < col("l_end") + flank
      val dedup = col("__bin") ===
        (greatest(col("l_start") - flank, col("r_start"), lit(0L)) / binSize).cast("long")
      col("__bin") === col("__binR") && overlap && dedup
    }

    joinType match {
      case "inner" =>
        // shuffle-hash beats sort-merge here: the bin key is dense and
        // uniform (no skewed build side), and SMJ would sort BOTH exploded
        // streams — the dominant cost of the join. AQE still overrides on
        // runtime skew. A caller-supplied broadcast hint wins instead
        // (broadcastRegionJoin / joinAgainst).
        l.join(hinted(r, right), cond, "inner").drop("__bin", "__binR")
      case "left_outer" =>
        // Outer joins cannot ride the exploded copies directly (a left row
        // appears once per bin): inner join once, then re-attach miss rows
        // found via a cheap distinct-coordinate SEMI join (matching is a
        // function of coordinates only, so coords classify rows exactly;
        // this avoids recomputing the full inner join for the anti side).
        val inner = l.join(hinted(r, right), cond, "inner")
          .drop("__bin", "__binR")
        val misses = leftMisses(left, right, binSize, flank)
        inner.unionByName(prefixed(misses, "l_"), allowMissingColumns = true)
      case "right_outer" =>
        val swapped = overlapJoin(right, left, "left_outer", binSize, flank)
        swapped.select(swapped.columns.map { c =>
          val renamed =
            if (c.startsWith("l_")) "r_" + c.stripPrefix("l_")
            else if (c.startsWith("r_")) "l_" + c.stripPrefix("r_")
            else c
          col(c).as(renamed)
        }.toSeq: _*)
      case "full_outer" =>
        val inner = l.join(hinted(r, right), cond, "inner")
          .drop("__bin", "__binR")
        val lMiss = leftMisses(left, right, binSize, flank)
        val rMiss = leftMisses(right, left, binSize, flank)
        inner
          .unionByName(prefixed(lMiss, "l_"), allowMissingColumns = true)
          .unionByName(prefixed(rMiss, "r_"), allowMissingColumns = true)
      case other => throw new IllegalArgumentException(s"joinType $other")
    }
  }

  /** Left rows with NO overlap match: distinct left coordinates that fail a
    * binned SEMI join against the right, joined back to the left rows.
    * Cost: one semi join over distinct coords (no pair blow-up, no dedup
    * predicate needed — existence only) + one equi join. */
  private def leftMisses(
      left: DataFrame, right: DataFrame, binSize: Long, flank: Long): DataFrame = {
    val coords = left.select("referenceName", "start", "end").distinct()
    val cb = flankedBin(coords, binSize, flank)
      .withColumnRenamed("referenceName", "crn")
      .withColumnRenamed("start", "cs").withColumnRenamed("end", "ce")
    val rb = binned(right, binSize)
      .select(col("referenceName").as("rrn"), col("start").as("rs"),
        col("end").as("re"), col("__bin").as("__binR"))
    val matchedCoords = cb.join(hinted(rb, right),
        col("__bin") === col("__binR") && col("crn") === col("rrn") &&
          col("cs") < col("re") + flank && col("rs") < col("ce") + flank,
        "left_semi")
      .select(col("crn"), col("cs"), col("ce")).distinct()
    left.join(matchedCoords,
      col("referenceName") === col("crn") && col("start") === col("cs") &&
        col("end") === col("ce"),
      "left_anti")
  }

  /** Inner overlap join keeping a key column from each side — the cheap flat
    * shape most genomics queries want. `leftKey`/`rightKey` name pass-through
    * id columns in the ORIGINAL inputs. */
  def overlapPairs(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      binSize: Long = DefaultBinSize,
      flank: Long = 0L): DataFrame =
    overlapJoin(left, right, "inner", binSize, flank)
      .select(col("l_" + leftKey).as(leftKey), col("r_" + rightKey).as(rightKey))

  /** Count of overlapping right rows per left row (zero kept) — the common
    * "how many reads per feature" aggregation. Cheaper than a left-outer
    * join + count: one binned inner join pre-aggregated by left coords,
    * then a (broadcast-able) equi join back onto the left — match-less left
    * rows take count 0, no miss-detection pass at all. */
  def overlapCounts(
      left: DataFrame,
      right: DataFrame,
      binSize: Long = DefaultBinSize,
      flank: Long = 0L): DataFrame = {
    // Join DISTINCT coordinates (not rows): several left rows may share a
    // coordinate triple, and each must receive the per-coordinate match
    // count exactly once — grouping the row-level join would multiply the
    // count by the number of co-located left rows.
    val coords = left.select("referenceName", "start", "end").distinct()
    val inner = overlapJoin(coords, right, "inner", binSize, flank)
    val counts = inner.groupBy(
        col("l_referenceName").as("crn"), col("l_start").as("cs"),
        col("l_end").as("ce"))
      .agg(count(lit(1)).as("__n"))
    left.join(counts,
        col("referenceName") === col("crn") && col("start") === col("cs") &&
          col("end") === col("ce"),
        "left_outer")
      .withColumn("n_overlaps", coalesce(col("__n"), lit(0L)))
      .drop("crn", "cs", "ce", "__n")
  }

  /** GroupByLeft family (reference shuffleRegionJoinAndGroupByLeft,
    * GenomicDataset.scala:2592-2754): each left row with the collected
    * overlapping right rows. `outer=true` keeps match-less left rows with an
    * empty array (leftOuter…AndGroupByLeft, GD:2272-2435). */
  def overlapJoinGroupByLeft(
      left: DataFrame,
      right: DataFrame,
      rightStructCols: Seq[String],
      outer: Boolean = false,
      binSize: Long = DefaultBinSize,
      flank: Long = 0L): DataFrame = {
    val jt = if (outer) "left_outer" else "inner"
    val j = overlapJoin(left, right, jt, binSize, flank)
    val leftCols = left.columns.map(c => col("l_" + c).as(c))
    val rStruct = struct(rightStructCols.map(c => col("r_" + c).as(c)): _*)
    j.groupBy(leftCols.toSeq: _*)
      .agg(collect_list(when(col("r_" + rightStructCols.head).isNotNull, rStruct))
        .as("overlaps"))
  }

  /** GroupByRight family (reference broadcastRegionJoinAndGroupByRight
    * GD:1228-1432, rightOuterShuffleRegionJoinAndGroupByRight GD:2754-2918):
    * each right row with the collected overlapping LEFT rows. A side-swap
    * of [[overlapJoinGroupByLeft]], exposed explicitly because the
    * reference ships it as a first-class API. `outer=true` keeps match-less
    * right rows with an empty array. */
  def overlapJoinGroupByRight(
      left: DataFrame,
      right: DataFrame,
      leftStructCols: Seq[String],
      outer: Boolean = false,
      binSize: Long = DefaultBinSize,
      flank: Long = 0L): DataFrame =
    overlapJoinGroupByLeft(right, left, leftStructCols, outer, binSize, flank)

  // --------------- pre-prepared broadcast side (`*Against`) ---------------

  /** A reusable broadcast join side — the reference's GenomicBroadcast +
    * `*Against` family (GD:1108-1797: `broadcast()` once, join many). The
    * side is persisted, so every subsequent [[joinAgainst]] rebuilds its
    * broadcast hash table from the cached blocks instead of recomputing
    * the side's lineage; `destroy()` releases the blocks. */
  final class RegionBroadcast private[operators] (
      caches: Caching.Scope, raw: DataFrame) {
    val side: DataFrame = caches.persist(raw)
    def destroy(): Unit = caches.close()
  }

  /** Prepare (persist + mark) a DataFrame as a reusable broadcast side. */
  def prepareBroadcast(side: DataFrame): RegionBroadcast =
    new RegionBroadcast(new Caching.Scope, side)

  /** Overlap join against a prepared broadcast side
    * (broadcastRegionJoinAgainst / rightOuterBroadcastRegionJoinAgainst,
    * GD:1173,1330,1497,1727). Identical semantics to [[overlapJoin]] with
    * `bc.side` as the right input; the broadcast hint + cached side make
    * repeated joins skip both the side's recompute and its shuffle. */
  def joinAgainst(
      left: DataFrame,
      bc: RegionBroadcast,
      joinType: String = "inner",
      binSize: Long = DefaultBinSize,
      flank: Long = 0L): DataFrame =
    overlapJoin(left, broadcast(bc.side), joinType, binSize, flank)

  /** GroupByRight against a prepared broadcast side
    * (broadcastRegionJoinAndGroupByRightAgainst, GD:1330-1432). Reference
    * parity: the broadcast side is the LEFT of the pair and the STREAMED
    * caller is the "right" the grouping keys on — each streamed `right`
    * row comes back with the collected overlapping broadcast-side structs
    * in `overlaps`. Grouping this way is also the only memory-bounded
    * direction: the collected arrays hold only broadcast-side (small)
    * values, never the unbounded streamed side. `outer=true` keeps
    * match-less streamed rows with an empty array (GD:1497-1611). */
  def joinAgainstGroupByRight(
      right: DataFrame,
      bc: RegionBroadcast,
      sideStructCols: Seq[String],
      outer: Boolean = false,
      binSize: Long = DefaultBinSize,
      flank: Long = 0L): DataFrame =
    overlapJoinGroupByLeft(right, broadcast(bc.side), sideStructCols,
      outer, binSize, flank)
}
