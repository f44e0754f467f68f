package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames.
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic end to end: ranks are
  * scaled longs, per-edge contributions are floor divisions, damping is the
  * exact rational 17/20, and every reduce is a sum of longs — exact and
  * commutative, so the result is bit-identical at any partition count, any
  * executor count, and in the DuckDB oracle's unrolled replay. The usual
  * floating-point PageRank cannot make that promise (FP addition is
  * order-sensitive), which is why reproducible-pipeline engines quantize
  * first — same contract as [[ClusteringOps]]' fixed-point k-means.
  *
  * Scale design (Pregel-shaped): each iteration is ONE shuffle (the
  * contribution sum keyed by dst); the edge table is hash-partitioned on
  * `src` once and persisted, so the per-iteration join against ranks
  * (also keyed by node = src) reuses co-partitioning; rank lineage is cut
  * with localCheckpoint per iteration so the plan stays constant-depth
  * over any iteration count (the q42 connected-components recipe).
  */
object GraphOps {

  /** Session shuffle parallelism — the partition count for the keyed
    * dedup exchanges below (scale-adaptive: tracks the session conf the
    * bench/driver sets per core count; AQE still coalesces downstream). */
  private def incidencePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Undirected co-occurrence edges from an (order, item) incidence list:
    * both directions of every distinct item pair sharing an order. The
    * classic market-basket graph; self-pairs excluded.
    *
    * Shape (measured 2.8x faster than a self-join + distinct at
    * sf0.1): ONE exchange groups the incidence narrow rows
    * per key (`collect_list` — bounded by basket size, never corpus
    * size), pairs explode map-side, and the dedup aggregation runs on a
    * src-keyed exchange — `HashPartitioning(src)` satisfies the
    * (src, dst) clustered distribution, so dedup + a src-partitioned
    * output cost one shuffle where the old plan paid a join + a
    * (src, dst) exchange, and every consumer that next keys by node
    * (outdeg/degree aggregations, Pregel joins) starts from friendly
    * partitioning. Per-task volume is bounded by the max node degree —
    * the same bound every consumer's own groupBy(src) already carries.
    *
    * SKEW BOUNDS (documented assumption): (1) `collect_list`
    * holds ONE basket per aggregation buffer and the explode fans out
    * K² pairs from that one row — fine for market-basket keys (bounded
    * basket size) but a heavy-hitter key with millions of items would
    * concentrate K² work in one task; cap or pre-split such keys before
    * calling. (2) `dropDuplicates` on HashPartitioning(src) puts a
    * celebrity node's whole pair fan-in into one aggregation task (AQE
    * skew-split does not apply to aggregates) — the same per-node-degree
    * bound every downstream groupBy(src) carries, so it adds no new
    * asymptotic class; tools/ScaleProbe's `cooc-hot` probe measures a
    * synthetic hot node 100x the uniform degree against this shape. */
  def coOccurrenceEdges(
      incidence: DataFrame, keyCol: String, itemCol: String): DataFrame = {
    val n = incidencePartitions(incidence)
    incidence
      .groupBy(col(keyCol).as("k"))
      .agg(collect_list(col(itemCol)).as("items"))
      .select(explode(col("items")).as("src"), col("items"))
      .select(col("src"), explode(col("items")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(n, col("src"))
      .dropDuplicates("src", "dst")
  }

  /** Integer PageRank over directed `edges(src, dst)`.
    *
    * rank_0(v) = scale (i.e. 1.0 fixed-point); each iteration:
    * rank'(v) = (3*scale div 20) + (17 * sum_{u->v} (rank(u) div outdeg(u))) div 20
    * — the standard per-node formulation with damping 0.85 = 17/20 and
    * teleport 0.15*scale, all in exact long arithmetic. Callers pick
    * `scale` so that n_nodes * scale stays far below 2^63/17 (the default
    * 1e9 supports ~5e8 nodes).
    *
    * Every node must have outdegree >= 1 (true for co-occurrence graphs,
    * where edges are symmetric); dangling-node mass is therefore never
    * dropped. Output: (node, rank_q). */
  def pageRank(
      edges: DataFrame, iters: Int = 5, scale: Long = 1000000000L): DataFrame = {
    val n = incidencePartitions(edges)
    Caching.scope { s =>
      // persisted, not checkpointed: the per-iteration e ⋈ contrib join
      // broadcasts the node-sized contrib side at runtime, so the cached
      // edge table is never re-shuffled, and an eager checkpoint only
      // adds its own materialization jobs (q93 measured 3.3 → 5.3 s)
      val e = s.persist(edges.select(col("src"), col("dst"))
        .repartition(n, col("src")))
      // (node, deg) — the node table WITH the outdegree fused in: the rank
      // state carries deg through every iteration, so no round joins the
      // ranks to an outdegree table; contrib is a pure projection of the
      // rank state.
      val ndeg = s.persist(e.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg")))
      val teleport = (3L * scale) / 20L
      var ranks = s.cut(ndeg.withColumn("rank", lit(scale)))
      for (_ <- 0 until iters) {
        val contrib = ranks
          .select(col("node").as("src"), expr("rank div deg").as("c"))
        val msgs = e.join(contrib, "src")
          .groupBy("dst").agg(sum("c").as("s"))
        ranks = s.cut(ndeg
          .join(msgs, ndeg("node") === msgs("dst"), "left")
          .select(col("node"), col("deg"),
            (lit(teleport) + expr("17 * coalesce(s, 0L) div 20")).as("rank")))
        s.keepOnly(ranks)
      }
      ranks.select(col("node"), col("rank").as("rank_q"))
    }
  }

  /** Top-`k` nodes of [[pageRank]] with the deterministic
    * (rank desc, node asc) tie-break — a TakeOrdered, never a full sort
    * collect. */
  def pageRankTopK(edges: DataFrame, iters: Int, k: Int,
      scale: Long = 1000000000L): DataFrame =
    pageRank(edges, iters, scale)
      .orderBy(desc("rank_q"), asc("node"))
      .limit(k)

  /** Personalized PageRank from a seed set — "expand from what I
    * trust": random walks restart at the SEEDS instead of everywhere,
    * so rank measures proximity to the seed set (seed-domain corpus
    * expansion, related-item retrieval, trust propagation). Same
    * integer Pregel as [[pageRank]] — ranks in fixed-point `scale`
    * units, per iteration `rank(v) = [v ∈ S]·(3·scale/20) +
    * 17·Σ_{u→v} (rank(u) div outdeg(u)) / 20` (15 % restart mass to
    * EACH seed, 85 % flow; unnormalized, so ranks are comparable within
    * a run) — every iterate is an exact integer vector any engine
    * replays. The node universe is src ∪ dst, so a seed that appears
    * only as a destination (possible for general directed edges) keeps
    * its restart mass and appears in the output — it simply contributes
    * no outgoing flow, like any dangling node. Only seeds absent from
    * the edge set entirely are ignored. (On a symmetric graph such as
    * [[coOccurrenceEdges]] the dst union is a no-op.)
    *
    * Output: (node, rank_q).
    *
    * Scale shape (Pregel, the [[pageRank]] recipe): per iteration ONE
    * src-keyed join on the co-partitioned persisted edge table + one
    * map-side-combined dst sum; seed membership is a broadcast-joined
    * flag on the bounded node table; per-round localCheckpoint cuts
    * lineage; scaffolding released before returning (tier 1). */
  def personalizedPageRank(
      edges: DataFrame, seeds: DataFrame, iters: Int = 5,
      scale: Long = 1000000000L): DataFrame = {
    val n = incidencePartitions(edges)
    Caching.scope { s =>
      val e = s.persist(edges.select(col("src"), col("dst"))
        .repartition(n, col("src")))
      val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val seedSet = seeds.select(col("node")).distinct()
        .withColumn("__seed", lit(1))
      // (node, __seed, deg) — deg fused into the node table (the
      // [[pageRank]] recipe): the rank state carries deg, so no round
      // joins the ranks to an outdegree table. deg is NULL for dst-only
      // (dangling) nodes; their contrib rows never match an edge src in
      // the message join, as an inner join against outdeg would drop them.
      val nodes = s.persist(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .join(broadcast(seedSet), Seq("node"), "left")
        .join(outdeg.select(col("src").as("node"), col("deg")),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__seed"), lit(0)).as("__seed"), col("deg")))
      val teleport = (3L * scale) / 20L
      var ranks = s.cut(nodes
        .select(col("node"), col("__seed"), col("deg"),
          when(col("__seed") === 1, lit(scale)).otherwise(lit(0L))
            .as("rank")))
      for (_ <- 0 until iters) {
        val contrib = ranks
          .filter(col("deg").isNotNull)
          .select(col("node").as("src"), expr("rank div deg").as("c"))
        val msgs = e.join(contrib, "src")
          .groupBy("dst").agg(sum("c").as("s"))
        ranks = s.cut(nodes
          .join(msgs, nodes("node") === msgs("dst"), "left")
          .select(col("node"), col("__seed"), col("deg"),
            (when(col("__seed") === 1, lit(teleport)).otherwise(lit(0L))
              + expr("17 * coalesce(s, 0L) div 20")).as("rank")))
        s.keepOnly(ranks)
      }
      ranks.select(col("node"), col("rank").as("rank_q"))
    }
  }

  /** Top-`k` of [[personalizedPageRank]] with the deterministic
    * (rank desc, node asc) tie-break. */
  def personalizedPageRankTopK(edges: DataFrame, seeds: DataFrame,
      iters: Int, k: Int, scale: Long = 1000000000L): DataFrame =
    personalizedPageRank(edges, seeds, iters, scale)
      .orderBy(desc("rank_q"), asc("node"))
      .limit(k)

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * with a DETERMINISTIC update rule: label_0(v) = v; each round every
    * node adopts the most frequent label among its neighbors, ties broken
    * by the SMALLEST label — a pure integer (count DESC, label ASC)
    * argmax, so unlike the classic randomized LPA the result is
    * bit-identical at any partition count and replayable by an unrolled
    * oracle. Fixed round count, not loop-to-fixpoint (the k-core
    * replayability contract; deterministic LPA label counts stabilize in
    * a few rounds on co-occurrence graphs).
    *
    * Scale shape (Pregel): per round ONE dst-keyed join of the
    * co-partitioned persisted edge table to the label table, one
    * map-side-combined (node, label) count, one per-node argmax
    * aggregation; label lineage cut per round with localCheckpoint.
    *
    * Input edges are treated as UNDIRECTED: the operator symmetrizes
    * internally (union of (src,dst) and (dst,src), deduplicated), so
    * dst-only nodes are seeded and vote like any other node and callers
    * may pass an arbitrary directed edge list. On an already-symmetric
    * input (e.g. [[coOccurrenceEdges]]) the dedup makes this a no-op.
    * Output: (node, lbl). */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val n = incidencePartitions(edges)
    val ed = edges.select(col("src"), col("dst"))
    Caching.scope { s =>
      // dedup on the dst-keyed exchange (HashPartitioning(dst) satisfies
      // the (src, dst) clustered distribution): one shuffle where
      // distinct + repartition would pay two
      val e = s.persist(
        ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
          .repartition(n, col("dst")).dropDuplicates("src", "dst"))
      val nodes = e.select(col("src").as("node")).distinct()
      var labels = s.cut(nodes.withColumn("lbl", col("node")))
      for (_ <- 0 until rounds) {
        // one src-keyed exchange carries BOTH aggregations:
        // HashPartitioning(src) satisfies the (src, lbl) clustered
        // distribution of the count, and the argmax then reuses the same
        // partitioning, where a (src, lbl)-keyed count would need the
        // argmax to re-shuffle on src (two exchanges per round)
        val counts = e
          .join(labels.withColumnRenamed("node", "dst"), "dst")
          .repartition(n, col("src"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        labels = s.cut(counts
          .groupBy(col("src").as("node"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("best"))
          .select(col("node"), col("best.l").as("lbl")))
        s.keepOnly(labels)
      }
      labels
    }
  }

  /** Community-size report off [[labelPropagation]]: the `k` largest
    * communities as (community, n_nodes), deterministic
    * (size DESC, community ASC) order — a TakeOrdered, never a full sort
    * collect. */
  def labelPropagationCommunities(
      edges: DataFrame, rounds: Int = 4, k: Int = 50): DataFrame =
    labelPropagation(edges, rounds)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(desc("n_nodes"), asc("community"))
      .limit(k)

  /** Iterative k-core peel: `rounds` rounds of "drop every node whose
    * current degree is below k", over symmetric directed edges. k is
    * derived from the data as the exact MEDIAN initial degree ((n+1)/2-th
    * in (deg, node) order — deterministic tie-break), so the peel is
    * non-trivial at any scale factor. Fixed round count (not
    * loop-to-fixpoint) keeps the computation exactly replayable by an
    * unrolled oracle; 2-4 rounds reach the fixpoint on real graphs.
    *
    * Output: (node, deg_residual, k_threshold) for nodes surviving all
    * rounds. Each round is one degree aggregation + two semi-join-shaped
    * filters, all keyed by node — Pregel-grade shuffles. The median gate
    * never sorts the node table: the value at rank (n+1)/2 in (deg, node)
    * order depends only on the DEGREE HISTOGRAM (the node tie-break cannot
    * cross a degree boundary), so it reduces to one map-side-combinable
    * `groupBy(deg).count()` plus a cumulative scan of the histogram. The
    * histogram has at most ~2*sqrt(m) rows for m edges (t distinct degree
    * values force sum(deg) >= t*(t+1)/2 <= m), so the driver-side scan is
    * a bounded collect — ~2M rows even at 10^12 edges — not the
    * single-partition node-table window a naive row_number() would plan. */
  /** Degree histogram (deg, cnt) of directed `edges(src, dst)` — the
    * constant-shape aggregation the k-core median gate runs on instead of
    * sorting the node table. Exposed for plan tests. */
  private[graft] def degreeHistogram(e: DataFrame): DataFrame =
    e.groupBy("src").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("cnt"))
      .orderBy("deg")

  /** Exact value at rank (n+1)/2 of the (deg, node)-ordered degree list,
    * read off a (deg asc)-sorted histogram: the node tie-break never
    * crosses a degree boundary, so the cumulative counts determine it. */
  private[graft] def medianFromHistogram(
      hist: Array[(Long, Long)]): Long = {
    val n = hist.iterator.map(_._2).sum
    val target = (n + 1) / 2
    var cum = 0L
    var k = 0L
    val it = hist.iterator
    while (cum < target && it.hasNext) {
      val r = it.next(); cum += r._2; k = r._1
    }
    k
  }

  def kCoreByMedianDegree(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val n = incidencePartitions(edges)
    Caching.scope { s =>
      // src-keyed dedup (one exchange): the degree histogram and every
      // peel round immediately re-aggregate by src, so the checkpointed
      // edge table starts on the partitioning they need
      var e = s.cut(edges.select(col("src"), col("dst"))
        .repartition(n, col("src")).dropDuplicates("src", "dst"))
      val k = medianFromHistogram(
        degreeHistogram(e).collect().map(r => (r.getLong(0), r.getLong(1))))
      for (_ <- 0 until rounds) {
        // keep is read by BOTH endpoint semi-joins; checkpoint the bounded
        // node list so the degree aggregation over e runs once per round,
        // not once per join branch
        val keep = s.cut(e.groupBy("src")
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("src").as("n")))
        e = s.cut(e
          .join(keep.select(col("n").as("src")), "src")
          .join(keep.select(col("n").as("dst")), "dst")
          .select("src", "dst"))
        // the peeled edge table is materialized: the previous one and the
        // keep list are dead
        s.keepOnly(e)
      }
      e.groupBy("src").agg(count(lit(1)).as("deg_residual"))
        .select(col("src").as("node"), col("deg_residual"),
          lit(k).as("k_threshold"))
    }
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected graph given as directed `edges(src, dst)` (direction
    * duplicates and self-loops tolerated — edges are canonicalized
    * first). Output: (node, n_triangles, deg, coeff_num = 2*triangles,
    * coeff_den = deg*(deg-1)) — the coefficient as an exact integer
    * rational, no engine-varying float division.
    *
    * The classic degree-ordered orientation bounds the wedge explosion:
    * each undirected edge is oriented from its (deg, node)-smaller
    * endpoint, making every node's out-degree O(sqrt(m)) on real graphs;
    * wedges are enumerated on the oriented DAG and closed against the
    * canonical edge set — O(m^1.5) total work, never a full v x v join.
    * Both shuffles are keyed by edge endpoints; nothing is collected.
    *
    * PLAN-OWNED CACHES (tier 2, see [[Caching]]): the canonical and
    * oriented edge tables are each read by multiple branches of the
    * returned node-sized plan, so they stay persisted for the life of
    * the result (ContextCleaner / caller cleanup reclaims them). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      // dedup on an a-keyed exchange: HashPartitioning(a) satisfies
      // the (a, b) clustered distribution, so canonicalization costs one
      // shuffle (not an (a, b) exchange) and the endpoint-degree join on
      // `a` starts co-partitioned
      .repartition(incidencePartitions(edges), col("a"))
      .dropDuplicates("a", "b")
      .persist()
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .persist()
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // cached pre-partitioned AND pre-sorted on the wedge key: the wedge
    // self-join reads this table on BOTH sides keyed by s. Persisted, not
    // cut: an eager local checkpoint here (which records the executed
    // partitioning statically and removes the wedge join's two declared
    // exchanges+sorts) measured slower in the catalog: checkpointing
    // o eagerly also MATERIALIZES the und cache, whose statistics then
    // report actual size (>10 MB) instead of the pre-materialization
    // estimate — the closing wedges ⋈ und join loses its static
    // broadcast and plans a sort-merge join that shuffles EVERY wedge by
    // (v, w). Net: isolated min 6.7 → 5.4 s but in-catalog 5.1 → 6.7 s
    // (the wedge-join saving is smaller than the lost broadcast). The
    // persist shape keeps the broadcast; at scales where und outgrows
    // broadcast anyway, SMJ is what both shapes degrade to.
    val n = incidencePartitions(edges)
    val o = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("s"),
      when(aFirst, col("b")).otherwise(col("a")).as("d"))
      .repartition(n, col("s"))
      .sortWithinPartitions("s", "d")
      .persist()
    val wedges = o.as("e1")
      .join(o.as("e2"), col("e1.s") === col("e2.s") && col("e1.d") < col("e2.d"))
      .select(col("e1.s").as("u"), col("e1.d").as("v"), col("e2.d").as("w"))
    // v < w by construction, so the closing edge is exactly canonical (v, w)
    val tris = wedges.join(und,
      wedges("v") === und("a") && wedges("w") === und("b"))
      .select("u", "v", "w")
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        col("deg"),
        (coalesce(col("n_triangles"), lit(0L)) * 2).as("coeff_num"),
        (col("deg") * (col("deg") - 1)).as("coeff_den"))
  }

  /** Integer HITS (Kleinberg 1999) over DIRECTED `edges(src, dst)` —
    * hubs point at good authorities, authorities are pointed at by good
    * hubs. The natural ranking for bipartite interaction graphs
    * (customer -> product, page -> cited page) where PageRank's
    * symmetric-teleport story fits poorly.
    *
    * Determinism: the classic algorithm L2-normalizes each half-step —
    * a cross-engine FP trap. Here each half-step instead renormalizes to
    * a fixed integer mass: `score = raw * 1e12 div sum(raw)` with the
    * sums and products in DECIMAL(38,0) and the floor division
    * remainder-exact — every iterate is an INTEGER vector, so any engine
    * replaying the recurrence (the DuckDB oracle unrolls it as chained
    * CTEs, the [[pageRank]] recipe) reproduces the scores bit-for-bit.
    * Sum-normalization preserves HITS's ordering semantics (scores are
    * scale-invariant) while staying closed over the integers. Fixed
    * iteration count; `h_0 = 1e6` per hub. Edges are deduplicated
    * internally; the graph must be non-empty.
    *
    * Output: (node, side 'hub'|'auth', score_q) — a bipartite node
    * carries one row per role it plays.
    *
    * Scale (Pregel shape): per iteration ONE src-keyed join of the
    * persisted co-partitioned edges to the hub vector + ONE dst-keyed
    * join to the authority vector, each followed by a map-side-combined
    * sum; the normalizer is a broadcast 1-row aggregate; vector lineage
    * cut per half-step with localCheckpoint. Edges repartitioned by src
    * once so the hub-side join never re-shuffles the edge table. */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters > 0, s"iters must be positive: $iters")
    val dec = "decimal(38,0)"
    val n = incidencePartitions(edges)
    val mass = lit(1000000000000L).cast(dec)
    Caching.scope { s =>
      // dedup directly on the src-keyed exchange (HashPartitioning(src)
      // satisfies the (src, dst) clustered distribution) — one shuffle
      // where distinct + repartition would pay two. Measured alternatives
      // kept OUT deliberately: (a) a second dst-partitioned edge copy
      // (saves the per-iteration dst re-shuffle but costs an extra cache
      // materialization — net slower at 3 iterations, 3.9 s vs 3.5 s
      // sf0.1); (b) checkpointing the raw vector inside renorm (the
      // normalizer subquery does NOT re-execute the raw subtree —
      // ReuseExchange dedupes it — so the checkpoint was pure added cost,
      // +1.2 s over 6 half-steps).
      val e = s.persist(edges.select(col("src"), col("dst"))
        .repartition(n, col("src")).dropDuplicates("src", "dst"))
      def renorm(raw: DataFrame): DataFrame = {
        val tot = raw.agg(sum("raw").as("__tot"))
        // exact floor division of non-negative decimals: IntegralDivide
        // (`div`) yields the same integer as (p - pmod(p,tot))/tot with
        // one decimal op instead of three
        s.cut(raw.crossJoin(broadcast(tot))
          .select(col("node"), (col("raw") * mass).cast(dec).as("__p"),
            col("__tot"))
          .select(col("node"), expr("__p div __tot").cast("long").as("s")))
      }
      var h = s.cut(e.select(col("src").as("node")).distinct()
        .withColumn("s", lit(1000000L)))
      var a: DataFrame = h // replaced on the first iteration
      for (_ <- 0 until iters) {
        a = renorm(e.join(h.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum("s").cast(dec).as("raw")))
        h = renorm(e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node")).agg(sum("s").cast(dec).as("raw")))
        // both half-steps are materialized (renorm cuts eagerly): the
        // previous iteration's vectors are dead
        s.keepOnly(a, h)
      }
      a.select(col("node"), lit("auth").as("side"), col("s").as("score_q"))
        .unionAll(
          h.select(col("node"), lit("hub").as("side"), col("s").as("score_q")))
    }
  }

  /** Top-`k` hubs and top-`k` authorities of [[hits]] with the
    * deterministic (score desc, node asc) tie-break — a per-side
    * row_number cut that plans as WindowGroupLimit (each map task
    * forwards at most k rows per side), never a global sort. */
  def hitsTopK(edges: DataFrame, iters: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("side")
      .orderBy(col("score_q").desc, col("node"))
    hits(edges, iters)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k).drop("__r")
  }

  /** Newman modularity of a node partition over an undirected simple
    * graph — the standard "are these communities real" score for
    * [[labelPropagation]] output (or any labeling):
    *
    *   Q = within/m - sum_c D_c^2 / (4 m^2)
    *
    * with m undirected edges, `within` the edges internal to a
    * community, and D_c the total degree of community c. Q in
    * [-0.5, 1]; random labelings score ~0, real community structure
    * >0.3 typically.
    *
    * Exact accounting: edges canonicalize to distinct undirected pairs
    * (self-loops dropped); the two counters and the degree sums are
    * integer aggregations; D_c^2 accumulates in DECIMAL(38,0) (degree
    * sums square past long at ~10^10 edges). The ONLY doubles are the
    * final two divisions on exactly-represented integers — identical in
    * any engine. Nodes absent from `labels` form singleton communities
    * under a reserved `__singleton_<id>` name so a missing label can
    * never collide with a REAL label value — labelPropagation labels ARE
    * node ids, so coalescing to the bare id would silently merge an
    * unlabeled node X into the community labeled X.
    *
    * Scale: one edge canonicalization (persist released after the two
    * bounded aggregates — tier-1, operators/Caching.scala), two
    * map-side-combined aggregations, and a labels join; the result is
    * ONE row: (m, n_within, q_modularity).
    *
    * `edges`: (src, dst); `labels`: (id, label). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      // dedup on an a-keyed exchange: HashPartitioning(a) satisfies
      // the (a, b) clustered distribution, so canonicalization costs one
      // shuffle (not an (a, b) exchange) and the endpoint-degree join on
      // `a` starts co-partitioned
      .repartition(incidencePartitions(edges), col("a"))
      .dropDuplicates("a", "b")
      .persist()
    // labels evaluate in three branches (both endpoint joins + the degree
    // grouping); persist so a caller-supplied label PLAN (often derived
    // from the edges themselves, e.g. labelPropagation output) computes
    // once, not three times
    val lab = labels.select(col("id"), col("label")).persist()
    val la = lab.select(col("id").as("a"), col("label").as("__la"))
    val lb = lab.select(col("id").as("b"), col("label").as("__lb"))
    def community(label: Column, id: Column): Column =
      coalesce(label.cast("string"),
        concat(lit("__singleton_"), id.cast("string")))
    val counts = und
      .join(la, Seq("a"), "left").join(lb, Seq("b"), "left")
      .agg(count(lit(1)).as("m"),
        sum(when(community(col("__la"), col("a")) ===
          community(col("__lb"), col("b")), 1L)
          .otherwise(0L)).as("n_within"))
    val degSq = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__deg"))
      .join(lab, Seq("id"), "left")
      .groupBy(community(col("label"), col("id")).as("__c"))
      .agg(sum("__deg").cast(dec).as("__dc"))
      .agg(sum(col("__dc") * col("__dc")).as("__dc2"))
    val out = counts.crossJoin(degSq)
      .select(col("m"), col("n_within"),
        (col("n_within").cast("double") / col("m").cast("double") -
          col("__dc2").cast("double") /
            (lit(4.0) * col("m") * col("m"))).as("q_modularity"))
    Caching.materializeAndRelease(out, und, lab)
  }

  /** Degree assortativity coefficient (Newman) of an undirected simple
    * graph — do high-degree nodes attach to other high-degree nodes
    * (r > 0, social graphs) or to leaves (r < 0, web/biology hubs)?
    * The Pearson correlation of end-point degrees over edges:
    *
    *   r = (4 m Sjk - Ssum^2) / (2 m Ssq - Ssum^2)
    *
    * with, over the m canonical edges: Sjk = sum(da*db),
    * Ssum = sum(da+db), Ssq = sum(da^2+db^2). Exact integer accounting in
    * DECIMAL(38,0); the ONLY double is the final division of two
    * exactly-computed 128-bit integers (engine-identical). NULL when the
    * graph is degree-regular (zero variance).
    *
    * Scale: one canonical-edge distinct (persist released before return,
    * tier 1) + the degree aggregation + two broadcastable degree joins +
    * one combined sum — the [[triangleCounts]] prelude without the wedge
    * join. Output: ONE row (m, r_assortativity). */
  def assortativity(edges: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      // dedup on an a-keyed exchange: HashPartitioning(a) satisfies
      // the (a, b) clustered distribution, so canonicalization costs one
      // shuffle (not an (a, b) exchange) and the endpoint-degree join on
      // `a` starts co-partitioned
      .repartition(incidencePartitions(edges), col("a"))
      .dropDuplicates("a", "b")
      .persist()
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val wd = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val da = col("da").cast(dec); val db = col("db").cast(dec)
    val sums = wd.agg(
      count(lit(1)).cast(dec).as("__m"),
      sum(da * db).as("__sjk"),
      sum(da + db).as("__ssum"),
      sum(da * da + db * db).as("__ssq"))
    val num = lit(4).cast(dec) * col("__m") * col("__sjk") -
      col("__ssum") * col("__ssum")
    val den = lit(2).cast(dec) * col("__m") * col("__ssq") -
      col("__ssum") * col("__ssum")
    val out = sums.select(
      col("__m").cast("long").as("m"),
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .as("r_assortativity"))
    Caching.materializeAndRelease(out, und)
  }
}
