package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`), SURVEY.md §7 step 10.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set, scan the corpus once, per-partition top-k via window. The
  *    baseline and the verifier for the approximate path.
  *  - [[lshTopK]]: signed-random-projection LSH — per-row signature, bucket
  *    join, exact re-rank within buckets. The 100 TB path: the corpus scan
  *    shuffles only bucket-matched candidates, never all-pairs.
  *
  * Dot products use `zip_with` + `aggregate` in double precision — stays
  * inside codegen, no UDF in the hot loop.
  */
object SimilarityOps {

  /** Elementwise dot product of two array<float|double> columns, summed in
    * index order (deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, as the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression: zip_with/aggregate
    * are CodegenFallback (interpreted per row) and a ScalaUDF pays
    * Seq[Double] deserialization per call — the expression reads ArrayData
    * in generated code with zero boxing. Sums run left-to-right, so
    * results are bit-identical to the declarative form (and to DuckDB's
    * list_cosine_similarity over DOUBLE[]). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSimilarity(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Exact cosine top-k of each query vector against the corpus.
    *
    * `queries`: (qid, qvec); `corpus`: (id, vec). Output
    * (qid, rank, id, cosine) with rank 1..k, ties broken by corpus id.
    * The query side is broadcast — the corpus (the 100 TB side) streams. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      qid: String = "qid", qvec: String = "qvec",
      id: String = "id", vec: String = "vec"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", cosine(col(qvec), col(vec)))
    val w = Window.partitionBy(col(qid)).orderBy(col("cosine").desc, col(id).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qid), col("rank"), col(id), col("cosine"))
  }

  /** Per-executor cache of the ±1 hyperplane sign table: sign(b, j) = bit 0
    * of splitmix64(b*1000003 + j). Deterministic, so precomputing per
    * executor (instead of re-hashing numBits × dim per ROW) changes nothing
    * numerically — the signature loop becomes table reads + adds. Grows to
    * the largest dim seen; rebuilds are idempotent so racing threads are
    * harmless. */
  private final class SrpSignTable(nb: Int) extends Serializable {
    // (stride, signs) published together — racing rebuilds are idempotent
    @transient @volatile private var cached: (Int, Array[Boolean]) = _
    private def tableFor(d: Int): (Int, Array[Boolean]) = {
      var c = cached
      if (c == null || c._1 < d) {
        val t = new Array[Boolean](nb * d)
        var b = 0
        while (b < nb) {
          var j = 0
          while (j < d) {
            t(b * d + j) =
              (DedupOps.splitmix64(b.toLong * 1000003L + j) & 1L) == 1L
            j += 1
          }
          b += 1
        }
        c = (d, t)
        cached = c
      }
      c
    }
    def signature(v: Seq[Float]): Long = {
      val n = v.length
      val a: Array[Float] = v match {
        case w: scala.collection.immutable.ArraySeq[_]
          if w.unsafeArray.isInstanceOf[Array[Float]] =>
          w.unsafeArray.asInstanceOf[Array[Float]]
        case _ => v.toArray
      }
      val (stride, t) = tableFor(n)
      var sig = 0L
      var b = 0
      while (b < nb) {
        var s = 0.0
        val row = b * stride
        var j = 0
        while (j < n) {
          s += (if (t(row + j)) a(j) else -a(j))
          j += 1
        }
        if (s > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
  }

  /** Signed-random-projection (hyperplane) LSH signature: `numBits` sign
    * bits of projections onto deterministic pseudo-random planes
    * (plane component r_{b,j} derived from splitmix64 — reproducible
    * everywhere; replayed bit-for-bit by HashOracleSql.srpLshTopKSql). */
  def srpSignature(numBits: Int): Column => Column = {
    val holder = new SrpSignTable(numBits)
    val f = udf { v: Seq[Float] => holder.signature(v) }
    f.apply(_)
  }

  /** Per-corpus-row SRP signature table — the persistable ANN index:
    * compute once (write as parquet alongside the vectors), then serve
    * query batches with [[lshTopKAgainst]] without re-signing the corpus.
    * Output: corpus columns + `csig`. */
  def srpSignatures(
      corpus: DataFrame, numBits: Int = 32, vec: String = "vec"): DataFrame =
    corpus.withColumn("csig", srpSignature(numBits)(col(vec)))

  /** Approximate top-k: SRP signatures, candidate = corpus vectors sharing
    * at least one of `bands` signature bands with the query, exact cosine
    * re-rank within candidates. Recall rises with bands; cost stays
    * proportional to bucket collision count, not corpus size × queries. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      numBits: Int = 32, bands: Int = 4,
      qid: String = "qid", qvec: String = "qvec",
      id: String = "id", vec: String = "vec"): DataFrame =
    lshTopKAgainst(queries, srpSignatures(corpus, numBits, vec), k,
      numBits, bands, qid, qvec, id, vec)

  /** [[lshTopK]] against a pre-signed corpus index (from
    * [[srpSignatures]], typically loaded from parquet): only the query
    * batch is signed per call — the 100 TB corpus scan carries its stored
    * signatures. */
  def lshTopKAgainst(
      queries: DataFrame, signedCorpus: DataFrame, k: Int,
      numBits: Int = 32, bands: Int = 4,
      qid: String = "qid", qvec: String = "qvec",
      id: String = "id", vec: String = "vec"): DataFrame = {
    require(numBits % bands == 0)
    val rowsPerBand = numBits / bands
    val mask = (1L << rowsPerBand) - 1

    def banded(df: DataFrame, sigName: String): DataFrame =
      df.select(col("*"),
          posexplode(array((0 until bands).map(b =>
            shiftrightunsigned(col(sigName), b * rowsPerBand).bitwiseAND(lit(mask))): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandVal")

    val qb = banded(
      broadcast(queries.withColumn("qsig", srpSignature(numBits)(col(qvec)))),
      "qsig")
    val cb = banded(signedCorpus, "csig")
    // Compute cosine at the band-match site (both vectors in hand), THEN
    // dedup multi-band hits on the narrow (qid, id, cosine) rows — never
    // shuffles the vectors themselves.
    val candidates = cb.join(qb, Seq("band", "bandVal"))
      .select(col(qid), col(id), cosine(col(qvec), col(vec)).as("cosine"))
      .groupBy(col(qid), col(id)).agg(max(col("cosine")).as("cosine"))

    val w = Window.partitionBy(col(qid)).orderBy(col("cosine").desc, col(id).asc)
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qid), col("rank"), col(id), col("cosine"))
  }

  // ------------------- embedding-cosine near-duplicates -------------------

  /** Exact embedding-cosine near-duplicate pairs: every (id_a, id_b) with
    * id_a < id_b and cosine >= threshold (ids must be integral). All-pairs
    * is inherently O(n²) dot products, but NOTHING here touches the driver:
    * each vector hashes to one of `blocks` blocks, and every unordered
    * block pair (i <= j) becomes one equi-join key — the left side
    * replicates a row of block b to keys (b, j) for j >= b, the right side
    * to keys (i, b) for i <= b, so a cross-block pair meets at exactly one
    * key and a same-block pair meets at (b, b) in both orders (the
    * id_l < id_r filter keeps one). Shuffle volume is ~`blocks`/2 × input
    * per side (never all-pairs materialized as shuffle rows); the n²
    * cosines run inside the per-key hash-join loop through the codegen'd
    * [[graft.functions.CosineSimilarity]] expression, whose left-to-right
    * double summation agrees bit-for-bit with DuckDB's
    * list_cosine_similarity over DOUBLE[]. At 100 TB: size `blocks` so one
    * block (~input/blocks rows) fits a task's memory; work per task is
    * |block_i|×|block_j| cosines, uniform under hash blocking. For
    * sub-quadratic cost use [[lshNearDuplicates]]. */
  def cosineNearDuplicates(
      vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 8): DataFrame = {
    require(blocks >= 1 && blocks <= 1024, s"blocks out of range: $blocks")
    val rows = vectors
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"),
        pmod(xxhash64(col(idCol).cast("long")), lit(blocks)).cast("int").as("blk"))

    val blockIds = array((0 until blocks).map(lit): _*)
    val left = rows
      .withColumn("bj", explode(blockIds)).filter(col("bj") >= col("blk"))
      .select(col("blk").as("bi"), col("bj"),
        col("id").as("id_l"), col("v").as("v_l"), col("blk").as("blk_l"))
    val right = rows
      .withColumn("bi", explode(blockIds)).filter(col("bi") <= col("blk"))
      .select(col("bi"), col("blk").as("bj"),
        col("id").as("id_r"), col("v").as("v_r"), col("blk").as("blk_r"))

    left.hint("shuffle_hash").join(right, Seq("bi", "bj"))
      .filter(col("blk_l") < col("blk_r") ||
        (col("blk_l") === col("blk_r") && col("id_l") < col("id_r")))
      .filter(cosine(col("v_l"), col("v_r")) >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"))
  }

  /** Near-duplicate pairs via SRP-LSH banding: candidates share at least
    * one signature band, then exact cosine verifies. The self-join shuffles
    * only (band, bandVal)-bucketed rows — never all-pairs — so cost scales
    * with collision count. Recall < 1 by construction; raise `bands` (or
    * lower `numBits` per band) to trade cost for recall. */
  def lshNearDuplicates(
      vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBits: Int = 32, bands: Int = 8): DataFrame = {
    require(numBits % bands == 0)
    val rowsPerBand = numBits / bands
    val mask = (1L << rowsPerBand) - 1
    val sig = srpSignature(numBits)

    // persisted: both self-join sides derive from the signed table via
    // differently-aliased projections and Catalyst plans no ReusedExchange
    // for that shape (the measured fact behind the identical persists in
    // DedupOps.minhashNearDuplicates / jaccardSimilarityJoin), so without
    // it the SRP sign UDF (numBits × dim multiply-adds per vector) runs
    // twice per row. Cache lifetime: as long as the returned DataFrame is
    // alive; long-lived sessions should clearCache() between passes.
    val signed = vectors
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        sig(col(vecCol)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = signed
      .select(col("id"), col("vec"),
        posexplode(array((0 until bands).map(b =>
          shiftrightunsigned(col("sig"), b * rowsPerBand).bitwiseAND(lit(mask))): _*)))
      .select(col("id"), col("vec"), col("pos").as("band"), col("col").as("bandVal"))

    val a = banded.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("band").as("band_a"), col("bandVal").as("bv_a"))
    val b = banded.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("band").as("band_b"), col("bandVal").as("bv_b"))
    a.join(b,
        col("band_a") === col("band_b") && col("bv_a") === col("bv_b") &&
          col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b").distinct()
  }

  // ------------------------------- IVF ANN --------------------------------

  private def cosSeq(a: Seq[Float], b: Seq[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    if (nn == 0.0) 0.0 else d / nn
  }

  /** Deterministic centroid sample: the `n` corpus vectors with the
    * smallest splitmix64-of-id (stable across runs and cluster sizes, and
    * replayable in the DuckDB oracle — HashOracleSql.centroidSampleCtes);
    * bounded collect of `n` rows, like a range partitioner's sample. */
  private def sampleCentroids(
      corpus: DataFrame, id: String, vec: String,
      n: Int): Array[(Int, Seq[Float])] = {
    val smix = udf { x: Long => DedupOps.splitmix64(x) }
    corpus
      .select(col(id), col(vec))
      .orderBy(smix(col(id).cast("long")), col(id))
      .limit(n)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1)) }
  }

  /** The deterministic IVF centroid table (ci, cvec) — the sampled
    * centroids of [[sampleCentroids]] as a persistable DataFrame: write it
    * as parquet next to the [[ivfAssignments]] table and serve query
    * batches with [[ivfTopKAgainst]] without resampling or reassigning the
    * corpus. */
  def ivfCentroids(
      corpus: DataFrame, nCentroids: Int,
      id: String = "id", vec: String = "vec"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    sampleCentroids(corpus, id, vec, nCentroids).toSeq.toDF("ci", "cvec")
  }

  /** Ordered broadcastable centroid array from a (ci, cvec) table (e.g.
    * loaded back from parquet, which does not preserve row order): sorted
    * by ci so the strict `s > best` argmax keeps first-centroid-wins
    * tie-breaking identical everywhere. Bounded collect (nCentroids). */
  private def collectCentroids(centroids: DataFrame): Array[(Int, Seq[Float])] =
    centroids.select(col("ci").cast("int"), col("cvec"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)

  /** Map-side nearest-centroid assignment: corpus + `cid` column. One
    * narrow pass, no shuffle — the persistable IVF index body. */
  def ivfAssignments(
      corpus: DataFrame, centroids: DataFrame,
      vec: String = "vec"): DataFrame = {
    val centB = corpus.sparkSession.sparkContext.broadcast(
      collectCentroids(centroids))
    val nearestC = udf { v: Seq[Float] =>
      var best = -2.0; var bi = 0
      centB.value.foreach { case (ci, cv) =>
        val s = cosSeq(v, cv)
        if (s > best) { best = s; bi = ci }
      }
      bi
    }
    corpus.withColumn("cid", nearestC(col(vec)))
  }

  /** [[ivfTopK]] against a prebuilt index (an [[ivfAssignments]] table and
    * its [[ivfCentroids]], typically loaded from parquet): only the query
    * batch computes probe lists per call — the 100 TB corpus scan carries
    * its stored `cid`.
    *
    * nProbe default (measured — SCALE.md "IVF ANN recall anchor"):
    * recall tracks the probed FRACTION nProbe/nCentroids; >= ~1/8 of the
    * lists gives >= 0.99 recall@10 on clustered 1M x 32-dim data
    * (8/64 -> 0.9975, 16/256 -> 0.9975, but 8/256 -> 0.945). The default
    * 8 assumes nCentroids in the tens; if you raise nCentroids for
    * shorter candidate lists, scale nProbe proportionally — higher
    * (nCentroids, nProbe) at equal fraction is strictly faster at equal
    * recall. */
  def ivfTopKAgainst(
      queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int = 8,
      qid: String = "qid", qvec: String = "qvec",
      id: String = "id", vec: String = "vec"): DataFrame = {
    val centB = queries.sparkSession.sparkContext.broadcast(
      collectCentroids(centroids))
    val probes = {
      val np = nProbe
      udf { v: Seq[Float] =>
        centB.value.map { case (ci, cv) => (cosSeq(v, cv), ci) }
          .sortBy { case (s, ci) => (-s, ci) }.take(np).map(_._2)
      }
    }
    val probed = broadcast(
      queries.withColumn("cid", explode(probes(col(qvec)))))

    val w = Window.partitionBy(col(qid)).orderBy(col("cosine").desc, col(id).asc)
    assigned.join(probed, Seq("cid"))
      .withColumn("cosine", cosine(col(qvec), col(vec)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qid), col("rank"), col(id), col("cosine"))
  }

  /** IVF (inverted-file) approximate top-k — the partition-pruned ANN scale
    * path: `nCentroids` corpus vectors are sampled deterministically (the
    * smallest splitmix64(id) values — a bounded driver collect, like a
    * range partitioner's sample), every corpus vector is assigned map-side
    * to its nearest centroid (one narrow pass, no shuffle), and each query
    * probes only its `nProbe` nearest centroid lists. The candidate join
    * shuffles |corpus| × nProbe/nCentroids rows instead of all-pairs; exact
    * cosine re-ranks inside the probed lists.
    *
    * nProbe == nCentroids degenerates to exact brute force (every list
    * probed) — asserted in the spec. Composes [[ivfCentroids]] →
    * [[ivfAssignments]] → [[ivfTopKAgainst]]; persist the first two as the
    * index-once-probe-many shape. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 64, nProbe: Int = 8,
      qid: String = "qid", qvec: String = "qvec",
      id: String = "id", vec: String = "vec"): DataFrame = {
    val centroids = ivfCentroids(corpus, nCentroids, id, vec)
    ivfTopKAgainst(queries, ivfAssignments(corpus, centroids, vec),
      centroids, k, nProbe, qid, qvec, id, vec)
  }

  // ------------------------------ SemDeDup --------------------------------

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings and dropping, within each cluster, every member
    * of a >`threshold`-cosine pair except the one LEAST similar to its
    * cluster centroid — the paper's keep-low-centroid-similarity rule
    * (keeping the most atypical representative preserves diversity).
    *
    * Clustering is the engine's deterministic IVF partitioning (the
    * splitmix64-of-id centroid sample + map-side nearest-centroid
    * assignment [[ivfTopK]] uses) rather than iterated Lloyd k-means:
    * iterated means are FP-order-sensitive (not bit-exact replayable in a
    * SQL oracle, not stable across partitionings), while the IVF sample is
    * deterministic at any cluster count and oracle-replayable
    * (HashOracleSql.semDedupSql); the paper's drop rule is independent of
    * how the space is partitioned.
    *
    * Output: every corpus row as (id, cid, dropped) — id cast to long, cid
    * the 0-based cluster, dropped true iff some same-cluster neighbor with
    * cosine > threshold exists whose centroid-similarity is lower (ties by
    * id: the higher id drops).
    *
    * Plan shape at 100 TB: assignment is one narrow broadcast pass (no
    * shuffle); the pair join shuffles the (id, vec, cid, c2c) table on cid
    * only; within-cluster work is n_c² cosines through the codegen'd
    * [[graft.functions.CosineSimilarity]] — size `nClusters` so a cluster
    * fits a task (the paper runs ~100k clusters at web scale), and AQE
    * splits hot clusters. */
  def semanticDuplicates(
      corpus: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 64, threshold: Double = 0.8): DataFrame = {
    val spark = corpus.sparkSession
    val centB = spark.sparkContext.broadcast(
      sampleCentroids(corpus, idCol, vecCol, nClusters))

    val assignU = udf { v: Seq[Float] =>
      var best = -2.0; var bi = 0
      centB.value.foreach { case (ci, cv) =>
        val s = cosSeq(v, cv)
        if (s > best) { best = s; bi = ci }
      }
      (bi, best)
    }
    // persisted: the assignment feeds both self-join sides plus the final
    // projection (3 consumers of a UDF projection — no ReusedExchange for
    // differently-aliased sides, the measured fact behind the identical
    // persists in lshNearDuplicates / DedupOps). Cache lifetime: as long as
    // the returned DataFrame is alive; long-lived sessions should
    // clearCache() between passes.
    val assigned = Parallelism.fanOut(
        corpus.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("a", assignU(col("vec")))
      .select(col("id"), col("vec"),
        col("a._1").as("cid"), col("a._2").as("c2c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val pa = assigned.select(col("cid"), col("id").as("id_a"),
      col("vec").as("vec_a"), col("c2c").as("c2c_a"))
    val pb = assigned.select(col("cid"), col("id").as("id_b"),
      col("vec").as("vec_b"), col("c2c").as("c2c_b"))
    val victims = pa.join(pb, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("vec_a"), col("vec_b")) > lit(threshold))
      .select(when(col("c2c_a") < col("c2c_b"), col("id_b"))
        .when(col("c2c_a") > col("c2c_b"), col("id_a"))
        .otherwise(col("id_b")).as("id"))
      .distinct()

    assigned.select(col("id"), col("cid").cast("long").as("cid"))
      .join(victims.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor vector, the top-`k` most cosine-similar corpus vectors with a
    * DIFFERENT label — the "confusable but wrong" examples that make
    * triplet/contrastive losses learn. Same plan shape as
    * [[bruteForceTopK]] (broadcast anchors, one corpus scan, per-anchor
    * window top-k with (cosine DESC, id ASC) ties) plus the label-mismatch
    * predicate applied BEFORE ranking, so ranks are over true negatives
    * only. Anchors never match themselves (id inequality is implied by
    * the label filter). Output: (qid, q_label, rank, id, neg_label,
    * cosine). */
  def hardNegativesTopK(
      anchors: DataFrame, corpus: DataFrame, k: Int,
      qid: String = "qid", qvec: String = "qvec", qLabel: String = "q_label",
      id: String = "id", vec: String = "vec",
      label: String = "label"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(anchors))
      .filter(col(qLabel) =!= col(label))
      .withColumn("cosine", cosine(col(qvec), col(vec)))
    val w = Window.partitionBy(col(qid))
      .orderBy(col("cosine").desc, col(id).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qid), col(qLabel), col("rank"), col(id),
        col(label).as("neg_label"), col("cosine"))
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversified
    * top-k for one query vector: greedily select `k` vectors, each round
    * maximizing `lambda*cos(q,d) - (1-lambda)*max_{s in S} cos(d,s)`
    * (round 1: the plain relevance argmax — empty-set diversity term is
    * 0). Deterministic: ties break id-ascending, and every arithmetic
    * step (relevance cosine, the two products, the subtraction) is
    * correctly-rounded IEEE over bit-identical doubles, so an unrolled
    * SQL oracle replays the selection exactly.
    *
    * Scale design: the corpus pays ONE cosine scan (the relevance pass);
    * a TakeOrdered keeps the top `nCandidates` by (rel DESC, id) — the
    * standard MMR prefilter — and the k greedy rounds then run over that
    * bounded persisted table (one TakeOrdered(1) collect per round,
    * selected vectors carried as k x dim literals). At 100 TB only the
    * relevance pass touches the corpus.
    *
    * Output: (rank 1..k, id, rel, score) in selection order. */
  def mmrSelect(
      corpus: DataFrame, queryVec: Seq[Double], k: Int,
      lambda: Double = 0.7, nCandidates: Int = 200,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    require(k >= 1 && nCandidates >= k && lambda >= 0 && lambda <= 1)
    // Fail fast on non-integral ids: a silent cast-to-long would turn a
    // string id column into NULLs and garbage selections downstream.
    corpus.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"mmrSelect requires an integral id column; '$idCol' is $other")
    }
    val spark = corpus.sparkSession
    val oneMinus = 1.0 - lambda // generate the SQL literal from this exact double
    val qLit = typedLit(queryVec)
    val cand = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("rel", cosine(col("v"), qLit))
      .orderBy(desc("rel"), asc("id"))
      .limit(nCandidates)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val picked = scala.collection.mutable.ArrayBuffer[
      (Int, Long, Seq[Double], Double, Double)]()
    for (r <- 1 to k) {
      val pool =
        if (picked.isEmpty) cand
        else cand.filter(!col("id").isin(picked.map(_._2).toSeq: _*))
      val ms = picked.toSeq match {
        case Seq() => lit(0.0)
        case Seq(only) => cosine(col("v"), typedLit(only._3))
        case many => greatest(many.map(p =>
          cosine(col("v"), typedLit(p._3))): _*)
      }
      val best = pool
        .withColumn("score", lit(lambda) * col("rel") - lit(oneMinus) * ms)
        .orderBy(desc("score"), asc("id"))
        .limit(1)
        .collect()
      if (best.nonEmpty) {
        val b = best.head
        picked += ((r, b.getLong(0), b.getSeq[Double](1).toSeq,
          b.getDouble(2), b.getDouble(3)))
      }
    }
    import spark.implicits._
    picked.toSeq
      .map { case (r, id, _, rel, score) => (r, id, rel, score) }
      .toDF("rank", "id", "rel", "score")
  }
}
