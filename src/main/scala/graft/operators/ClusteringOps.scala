package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed k-means (Lloyd) over embedding columns, in FIXED-POINT
  * integer arithmetic so every step is bit-deterministic and replayable by
  * the DuckDB oracle: float sums are order-sensitive across engines (and
  * across Spark partitionings!), integer sums are not. Components are
  * quantized once to `round(x * scale)` longs; distances, sums and the
  * floor-divided centroid means all stay exact integers, so the same fit
  * on 4 or 4,000 partitions yields the SAME centroids — the property that
  * makes a clustering reproducible at 100 TB.
  *
  * This is the trainer for the centroid tables that
  * [[SimilarityOps.ivfAssignments]]/[[SimilarityOps.ivfTopKAgainst]] and
  * [[SimilarityOps.semanticDuplicates]] consume (via
  * [[centroidsAsFloat]]); their deterministic splitmix64 sample
  * (SimilarityOps.sampleCentroids) is exactly this trainer at iters=0.
  *
  * Scale shape per iteration: one narrow assignment pass (broadcast
  * centroids, k×dim longs), one (cid, dim) partial-aggregated shuffle of
  * k×dim cells, one bounded k×dim-row collect — the same bounded-collect
  * contract as the IVF centroid sample. The quantized projection is
  * persisted across iterations and released before returning.
  */
object ClusteringOps {

  /** 2^20 ≈ 6 decimal digits; |x| < 1024 keeps squared distances of
    * 64-dim vectors inside Long (and inside DOUBLE's 2^53 for the oracle). */
  val DefaultScale: Long = 1L << 20

  /** Fixed-point quantization of a float/double array column:
    * `floor(x * scale + 0.5)` per component (round-half-up — floor(+0.5),
    * not round(), because round's half-way rule differs across engines). */
  def quantize(vec: Column, scale: Long = DefaultScale): Column =
    transform(vec, x => floor(x.cast("double") * scale + lit(0.5)).cast("long"))

  /** Nearest-centroid id by squared L2 distance in Long math; ties take
    * the lowest ci (strict `<` keeps the first minimum). */
  private def assignUdf(cents: org.apache.spark.broadcast.Broadcast[Array[Array[Long]]]) =
    udf { qv: Seq[Long] =>
      val cs = cents.value
      var best = 0
      var bestD = Long.MaxValue
      var ci = 0
      while (ci < cs.length) {
        val c = cs(ci)
        var d = 0L
        var i = 0
        while (i < c.length) { val t = qv(i) - c(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = ci }
        ci += 1
      }
      best
    }

  /** Lloyd-iterated centroids: (ci, cqvec) with cqvec in quantized longs.
    * Init = the k rows with smallest splitmix64(id) (ties by id) — the
    * same replayable deterministic sample as the IVF/SemDeDup centroid
    * seed. Update = per-dimension `floorDiv(sum, count)`; a cluster that
    * wins no points keeps its previous centroid. */
  def kmeansFit(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      id: String = "vec_id",
      vec: String = "embedding",
      scale: Long = DefaultScale): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Caching.scope { s =>
      val q = s.persist(corpus
        .select(col(id).cast("long").as("id"), quantize(col(vec), scale).as("qv")))
      val smix = udf { x: Long => DedupOps.splitmix64(x) }
      var cents: Array[Array[Long]] = q
        .orderBy(smix(col("id")), col("id")).limit(k)
        .select("qv").collect().map(_.getSeq[Long](0).toArray)
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(cents)
        val cells = q
          .select(assignUdf(bc)(col("qv")).as("cid"), col("qv"))
          .select(col("cid"), posexplode(col("qv")).as(Seq("d", "v")))
          .groupBy("cid", "d")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone) // empty clusters keep previous centroid
        cells.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = Math.floorDiv(r.getLong(2), r.getLong(3))
        }
        cents = next
        bc.destroy()
        it += 1
      }
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("ci", "cqvec")
    }
  }

  /** Map-side assignment of a corpus against a fitted (ci, cqvec) table:
    * (id, cid). One narrow pass, no shuffle — the probe shape. */
  def kmeansAssign(
      corpus: DataFrame,
      centroids: DataFrame,
      id: String = "vec_id",
      vec: String = "embedding",
      scale: Long = DefaultScale): DataFrame = {
    val cents = centroids.select(col("ci").cast("int"), col("cqvec"))
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).map(_._2)
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    corpus.select(col(id), assignUdf(bc)(quantize(col(vec), scale)).as("cid"))
  }

  /** De-quantized (ci, cvec float) view of a fitted centroid table — the
    * shape [[SimilarityOps.ivfAssignments]] / [[SimilarityOps.ivfTopKAgainst]]
    * consume, so a Lloyd-refined fit drops in where the splitmix sample
    * was. */
  def centroidsAsFloat(centroids: DataFrame, scale: Long = DefaultScale): DataFrame =
    centroids.select(col("ci"),
      transform(col("cqvec"), x => (x.cast("double") / scale).cast("float")).as("cvec"))

  // ------------------- fixed-point PCA (power iteration) -------------------

  /** Quantization for the PCA path: coarser than k-means (2^10) because
    * Gram entries accumulate n * qc^2 — at 1e12 rows this budget keeps the
    * matrix inside Long; the axis direction only needs ~3 digits. */
  val PcaScale: Long = 1L << 10

  /** Normalization magnitude of the iterated eigenvector (2^16). */
  val PcaVScale: Long = 1L << 16

  /** Centered fixed-point quantization + the integer Gram matrix of a
    * vector column, all exact: mean_q[d] = sum(qx_d) / n with TRUNCATING
    * division (toward zero) — the shared semantics of Scala Long `/`,
    * Spark `div` and DuckDB `//`, so negative sums divide identically in
    * every engine; G[a][b] = sum (qx_a - mean_a)(qx_b - mean_b).
    *
    * Scale shape: per-partition partial Gram via mapPartitions (a dim x dim
    * long array per partition, the map-side combine of a dim^2-cell
    * aggregation), one shuffle of dim^2 cells, one bounded dim^2 collect —
    * the k-means bounded-collect contract at k = dim. */
  def gramMatrix(
      corpus: DataFrame, vec: String = "embedding",
      scale: Long = PcaScale): (Array[Long], Array[Array[Long]], Long) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Caching.scope { s =>
      val q = s.persist(corpus.select(quantize(col(vec), scale).as("qv")))
      val (sums, n) = q.select(posexplode(col("qv")).as(Seq("d", "x")))
        .groupBy("d").agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
        .foldLeft((Map.empty[Int, Long], 0L)) { case ((m, _), r) =>
          (m + (r.getInt(0) -> r.getLong(1)), r.getLong(2))
        }
      val dim = sums.size
      val mean = Array.tabulate(dim)(d => sums(d) / n)
      val meanBc = spark.sparkContext.broadcast(mean)
      val cells = q.mapPartitions { rows =>
        val m = meanBc.value
        val d = m.length
        val acc = new Array[Long](d * d)
        rows.foreach { r =>
          val qv = r.getSeq[Long](0)
          val c = Array.tabulate(d)(i => qv(i) - m(i))
          var a = 0
          while (a < d) {
            var b = 0
            while (b < d) { acc(a * d + b) += c(a) * c(b); b += 1 }
            a += 1
          }
        }
        (0 until d * d).iterator.filter(acc(_) != 0L)
          .map(i => (i / d, i % d, acc(i)))
      }.toDF("a", "b", "s")
        .groupBy("a", "b").agg(sum("s").as("g"))
        .collect()
      val g = Array.ofDim[Long](dim, dim)
      cells.foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      (mean, g, n)
    }
  }

  /** Top principal axis of the integer Gram matrix by fixed-point power
    * iteration — pure long arithmetic, so the driver loop and the oracle's
    * unrolled SQL agree exactly: v0 = vscale * (1,1,...,1) — the all-ones
    * start, which unlike a basis vector is never an exact minor
    * eigenvector of a centered Gram matrix in practice; each step w = G v,
    * v' = w / max(max|w| / vscale, 1) with TRUNCATING division (the
    * Scala-Long / Spark-div / DuckDB-// shared semantics); sign fixed so
    * the first nonzero component is positive. */
  def powerIteration(
      g: Array[Array[Long]], iters: Int = 10,
      vscale: Long = PcaVScale): Array[Long] = {
    val dim = g.length
    var v = Array.fill(dim)(vscale)
    for (_ <- 0 until iters) {
      val w = Array.tabulate(dim) { i =>
        var s = 0L
        var j = 0
        while (j < dim) { s += g(i)(j) * v(j); j += 1 }
        s
      }
      val m = w.map(math.abs).max
      val div = math.max(m / vscale, 1L)
      v = w.map(_ / div)
    }
    val firstNz = v.indexWhere(_ != 0L)
    if (firstNz >= 0 && v(firstNz) < 0L) v.map(-_) else v
  }

  /** Per-label separation along the top principal component:
    * (label, n, mean_proj_q, min_proj, max_proj) with
    * proj = sum_d (qx_d - mean_d) * axis_d — the classic "do my labels
    * separate linearly?" embedding diagnostic, exact integers end to end
    * (mean_proj truncating-divided). One narrow projection pass after the
    * bounded Gram collect; nothing grows with dim^2 on the cluster side. */
  def pcaLabelProjection(
      corpus: DataFrame, vec: String = "embedding", labelCol: String = "label",
      iters: Int = 10, scale: Long = PcaScale,
      vscale: Long = PcaVScale): DataFrame = {
    val (mean, g, _) = gramMatrix(corpus, vec, scale)
    val axis = powerIteration(g, iters, vscale)
    val meanBc = corpus.sparkSession.sparkContext.broadcast(mean)
    val axisBc = corpus.sparkSession.sparkContext.broadcast(axis)
    val projUdf = udf { qv: Seq[Long] =>
      val m = meanBc.value
      val a = axisBc.value
      var s = 0L
      var i = 0
      while (i < a.length) { s += (qv(i) - m(i)) * a(i); i += 1 }
      s
    }
    corpus
      .select(col(labelCol).as("label"),
        projUdf(quantize(col(vec), scale)).as("p"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("p").as("sp"),
        min("p").as("min_proj"), max("p").as("max_proj"))
      .select(col("label"), col("n"),
        // `div` truncates toward zero — the same semantics as DuckDB's
        // `//` (verified: -121 // 50 = -2), so negative sums agree
        expr("sp div n").as("mean_proj_q"),
        col("min_proj"), col("max_proj"))
  }

  /** The fitted top principal axis as a table (d, axis_q) — persistable,
    * so one fit serves any number of projection passes. */
  /** POCKET batch-perceptron training over quantized-long features — the
    * quality-classifier training step of a data pipeline (the
    * fastText-style gate), in EXACT integer arithmetic: predictions are
    * the sign of a long dot product, updates are exact long sums
    * w += sum_i x_i (y_i - pred_i), so the learned weights are
    * bit-identical at any partitioning and replayable by an unrolled SQL
    * oracle (the PCA/k-means fixed-point contract — a sigmoid/float-SGD
    * classifier cannot promise that). The POCKET rule handles batch
    * perceptron's oscillation on unscaled/non-separable data: every
    * iteration's weights are scored on the training set and the best
    * (accuracy DESC, iteration ASC) snapshot is returned — the classic
    * Gallant (1990) fix, and itself deterministic.
    *
    * Scale: per iteration ONE map-side-combined aggregation over the
    * corpus producing d+1 update sums AND the accuracy count (a bounded
    * collect), with the current weights inlined as literals — no shuffle
    * of feature rows, no state beyond the weight vectors. Callers keep
    * n * max|x| * max|w| under 2^63 (at extreme corpus sizes, train on a
    * hash-sampled slice).
    *
    * Features are MEAN-CENTERED first (exact integer means, the same
    * truncating sum-div-n as the PCA centering) — without it the bias
    * cannot compete with large-magnitude raw features and batch
    * perceptron stalls at the base rate (measured: 66% raw vs 85%
    * centered on the documents quality gate).
    *
    * Output: one row per weight — (feature_idx, feature, center, weight,
    * n_correct, n_total) with the pocket weights' training accuracy
    * repeated on each row. feature_idx 0 is the bias (x = 1, center 0);
    * a prediction applies weight * (x - center). */
  def perceptronTrain(feats: DataFrame, featureCols: Seq[String],
      labelCol: String, iters: Int): DataFrame = {
    val spark = feats.sparkSession
    val meansRow = feats.agg(count(lit(1)).as("n"),
      featureCols.map(c => sum(col(c)).as(s"s_$c")): _*).collect().head
    val nAll = meansRow.getLong(0)
    val means = featureCols.indices.map(i => meansRow.getLong(i + 1) / nAll)
    val centered = featureCols.zipWithIndex
      .map { case (c, i) => (col(c) - lit(means(i))).as(c) }
    // persisted: every iteration re-aggregates this narrow (label +
    // centered features) projection — without the cache each of the
    // iters+1 passes re-reads and re-featurizes the corpus
    val (pocket, pocketOk) = Caching.scope { s =>
      val cf = s.persist(feats.select((col(labelCol) +: centered): _*))
      var w = Array.fill(featureCols.length + 1)(0L)
      def predCol: Column = {
        val dot = featureCols.zipWithIndex
          .map { case (c, i) => lit(w(i + 1)) * col(c) }
          .foldLeft(lit(w(0)) * lit(1L))(_ + _)
        when(dot > 0, 1L).otherwise(0L)
      }
      var pocket = w
      var pocketOk = -1L
      for (_ <- 1 to iters) {
        // one pass scores the CURRENT weights and computes their update
        val err = col(labelCol) - predCol
        val row = cf.agg(
          sum(when(predCol === col(labelCol), 1L).otherwise(0L)).as("ok"),
          (Seq(sum(err).as("d0")) ++
            featureCols.zipWithIndex.map { case (c, i) =>
              sum(err * col(c)).as(s"d${i + 1}")
            }): _*).collect().head
        if (row.getLong(0) > pocketOk) { pocketOk = row.getLong(0); pocket = w }
        w = w.indices.map(i => w(i) + row.getLong(i + 1)).toArray
      }
      // the post-loop weights get scored too (iters updates = iters+1 candidates)
      val lastOk = cf.agg(
        sum(when(predCol === col(labelCol), 1L).otherwise(0L))).collect()
        .head.getLong(0)
      if (lastOk > pocketOk) { pocketOk = lastOk; pocket = w }
      (pocket, pocketOk)
    }
    val names = "bias" +: featureCols
    val centers = 0L +: means
    val rows = pocket.indices.map(i => Row(
      i, names(i), centers(i), pocket(i), pocketOk, nAll))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("feature_idx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("feature",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("center",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("weight",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_correct",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_total",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  def pcaAxis(
      corpus: DataFrame, vec: String = "embedding", iters: Int = 10,
      scale: Long = PcaScale, vscale: Long = PcaVScale): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (_, g, _) = gramMatrix(corpus, vec, scale)
    powerIteration(g, iters, vscale).zipWithIndex
      .map { case (v, d) => (d, v) }.toSeq.toDF("d", "axis_q")
  }

  // --------------- nearest-centroid label audit ----------------------

  /** Nearest-centroid confusion matrix — the cheap "are these labels
    * separable in embedding space?" audit run before trusting a labeled
    * embedding set (mislabeled or entangled classes show up as
    * off-diagonal mass): fit one centroid per LABEL (per-dimension
    * `floorDiv(sum, count)` over the quantized vectors — the
    * [[kmeansFit]] update step with labels as fixed assignments), then
    * classify every vector to its nearest centroid by exact Long squared
    * L2 (ties -> smallest label, the [[kmeansFit]] tie rule). The label
    * column must be integral (categorical labels map to ids first —
    * enforced loudly); null-labeled rows are excluded from both the
    * centroids and the scored output.
    *
    * Output: (label, predicted, n) — long-format confusion counts;
    * diagonal rows are the correctly-recovered mass.
    *
    * Scale: ONE map-side-combined (label, dim) moment aggregation (rows
    * = |labels| x dim, bounded), centroids broadcast back, ONE narrow
    * classify-and-count pass over the corpus — no shuffle wider than the
    * |labels|^2 confusion grid; the persisted quantized projection is
    * released via materializeAndRelease (tier 1). */
  /** Per-group embedding-centroid drift vs the corpus: for every group
    * (source, language, snapshot...) the cosine between ITS quantized
    * centroid and the GLOBAL centroid — the embedding-space audit run
    * before mixing a source in ("does this crawl live where the rest of
    * the corpus lives?"). A cosine near 1 means the group is centered
    * like the corpus; a low/negative cosine flags a distribution shift
    * worth a [[nearestCentroidEval]]/PSI follow-up.
    *
    * Exactness: components quantize once ([[quantize]], round-half-up
    * longs); per-(group, dim) sums and counts aggregate exactly; both
    * centroids are `floorDiv(sum, count)` (the kmeans update rule) in
    * pure in-plan integer arithmetic — `(s - pmod(s, n)) / n` IS
    * Math.floorDiv for any-sign `s` — and each cosine is ONE double
    * chain `dot / (sqrt(na) * sqrt(nb))` over exactly-converted integer
    * sums (|c| <= scale, dot <= dims * scale^2 < 2^53 for 64-dim at the
    * default scale). Zero-norm centroids define cosine 0.
    *
    * Output: (groupCol, n_vecs, cosine_to_global).
    *
    * Scale: ONE (group, dim) map-side-combined moment aggregation over
    * the corpus (the nearestCentroidEval shape); the global centroid is
    * re-aggregated FROM those bounded cells — the cells persist so the
    * corpus is scanned ONCE (without it Catalyst plans a second full
    * scan for the global branch), and the bounded result materializes
    * via localCheckpoint with the cells released before returning
    * (tier 1, operators/Caching.scala); everything downstream runs on
    * |groups| x dim rows. No collect anywhere. */
  def sourceCentroidDrift(
      corpus: DataFrame,
      groupCol: String,
      vec: String = "embedding",
      scale: Long = DefaultScale): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def floorDiv(s: Column, n: Column): Column =
      ((s - pmod(s, n)) / n).cast(dec)
    val cells = corpus
      .select(col(groupCol).as("g"),
        posexplode(quantize(col(vec), scale)).as(Seq("d", "v")))
      .groupBy("g", "d")
      .agg(sum(col("v").cast(dec)).cast(dec).as("s"),
        count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cents = cells
      .select(col("g"), col("d"), col("n"),
        floorDiv(col("s"), col("n").cast(dec)).as("c"))
    val global = cells.groupBy("d")
      .agg(floorDiv(sum(col("s")).cast(dec), sum(col("n")).cast(dec))
        .as("gc"))
    val out = cents.join(broadcast(global), "d")
      .groupBy("g")
      .agg(max("n").as("n_vecs"),
        sum(col("c") * col("gc")).cast(dec).as("__dot"),
        sum(col("c") * col("c")).cast(dec).as("__na"),
        sum(col("gc") * col("gc")).cast(dec).as("__nb"))
      .select(col("g").as(groupCol), col("n_vecs"),
        when(col("__na") === 0 || col("__nb") === 0, lit(0.0))
          .otherwise(col("__dot").cast("double") /
            (sqrt(col("__na").cast("double")) *
              sqrt(col("__nb").cast("double"))))
          .as("cosine_to_global"))
    Caching.materializeAndRelease(out, cells)
  }

  def nearestCentroidEval(
      corpus: DataFrame,
      labelCol: String,
      vec: String = "embedding",
      scale: Long = DefaultScale): DataFrame = {
    val spark = corpus.sparkSession
    requireIntegralLabel(corpus, labelCol, "nearestCentroidEval")
    val q = corpus
      .select(col(labelCol).cast("long").as("label"),
        quantize(col(vec), scale).as("qv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    requireCleanVectors(q, vec, "nearestCentroidEval")
    val cells = q
      .filter(col("label").isNotNull)
      .select(col("label"), posexplode(col("qv")).as(Seq("d", "v")))
      .groupBy("label", "d")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect() // bounded: |labels| x dim
    require(cells.nonEmpty,
      "nearestCentroidEval: no labeled vectors (empty corpus, all-null " +
        "labels, or empty embeddings)")
    val dims = cells.map(_.getInt(1)).max + 1
    val labels = cells.map(_.getLong(0)).distinct.sorted
    val idx = labels.zipWithIndex.toMap
    val cents = Array.ofDim[Long](labels.length, dims)
    cells.foreach { r =>
      cents(idx(r.getLong(0)))(r.getInt(1)) =
        Math.floorDiv(r.getLong(2), r.getLong(3))
    }
    val bc = spark.sparkContext.broadcast(cents)
    val predLabel = udf { i: Int => labels(i) }
    val out = q
      .filter(col("label").isNotNull) // unlabeled rows can't be scored
      .select(col("label"),
        predLabel(assignUdf(bc)(col("qv"))).as("predicted"))
      .groupBy("label", "predicted").agg(count(lit(1)).as("n"))
    Caching.materializeAndRelease(out, q)
  }

  /** Loud plan-time guard shared by the label-conditioned centroid
    * operators: a non-integral label would silently cast("long") every
    * unparseable value into ONE null group and crash later with an
    * opaque driver NPE. */
  private def requireIntegralLabel(corpus: DataFrame, labelCol: String,
      op: String): Unit = {
    val lt = corpus.schema(labelCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(lt),
      s"$op needs an integral label column; '$labelCol' is $lt — map " +
        "categorical labels to ids first")
  }

  /** Loud execution-time guard shared by the label-conditioned centroid
    * operators: NULL or ragged embeddings would skew the centroid
    * moments or crash the distance UDF with an opaque
    * NPE/IndexOutOfBounds. One pass over the persisted projection,
    * 1-row collect. */
  private def requireCleanVectors(q: DataFrame, vec: String,
      op: String): Unit = {
    val shape = q.filter(col("label").isNotNull)
      .agg(sum(when(col("qv").isNull, 1L).otherwise(0L)).as("nulls"),
        min(size(col("qv"))).as("mn"), max(size(col("qv"))).as("mx"))
      .head()
    require(shape.isNullAt(0) || shape.getLong(0) == 0L,
      s"$op: ${shape.getLong(0)} labeled rows have a NULL '$vec' — " +
        "drop or impute them first")
    require(shape.isNullAt(1) || shape.getInt(1) == shape.getInt(2),
      s"$op: ragged '$vec' lengths (min ${shape.getInt(1)}, max " +
        s"${shape.getInt(2)}) — embeddings must be fixed-length")
  }

  /** Simplified silhouette per label — the clustering-quality /
    * label-coherence audit that doesn't need the O(n²) pairwise
    * silhouette: each vector scores `s = (b − a) / max(a, b)` where `a`
    * is its distance to its OWN label centroid and `b` the distance to
    * the nearest OTHER label centroid (Hruschka's simplified silhouette
    * — centroids stand in for the cluster means, so cost is one pass
    * against |labels| broadcast centroids instead of all pairs). Mean s
    * near 1 = tight, well-separated labels; near 0 = touching; negative
    * = vectors sit closer to a foreign centroid than their own (label
    * noise — the q174 confusion matrix says WHICH label they confuse).
    *
    * Determinism: centroids are the exact floorDiv(sum, n) quantized
    * integers (the kmeans update rule); a and b are IEEE sqrt of exact
    * Long squared distances; each s is ONE fixed double chain quantized
    * at 1e7 and summed as exact integers, so the per-label mean
    * `sum(s_q) / (n · 1e7)` is order-insensitive and engine-replayable.
    * A vector equidistant from both centroids scores 0; a singleton
    * label sits AT its own centroid (a = 0) and scores 1 — documented,
    * standard for the centroid variant.
    *
    * Output per label: (label, n_vecs, mean_silhouette).
    *
    * Scale: the [[nearestCentroidEval]] shape — ONE (label, dim) moment
    * aggregation, a BOUNDED |labels|×dim collect, then one broadcast
    * classify pass with a map-side-combined per-label aggregation; the
    * corpus is scanned twice (moments, scoring) and never shuffled wider
    * than (label, dim) cells. */
  def simplifiedSilhouette(
      corpus: DataFrame,
      labelCol: String,
      vec: String = "embedding",
      scale: Long = DefaultScale): DataFrame = {
    val spark = corpus.sparkSession
    requireIntegralLabel(corpus, labelCol, "simplifiedSilhouette")
    val q = corpus
      .select(col(labelCol).cast("long").as("label"),
        quantize(col(vec), scale).as("qv"))
      .filter(col("label").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    requireCleanVectors(q, vec, "simplifiedSilhouette")
    val cells = q
      .select(col("label"), posexplode(col("qv")).as(Seq("d", "v")))
      .groupBy("label", "d")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect() // bounded: |labels| x dim
    val labels = cells.map(_.getLong(0)).distinct.sorted
    require(labels.length >= 2,
      s"simplifiedSilhouette needs >= 2 labels, got ${labels.length} — " +
        "separation from 'the nearest other label' is undefined")
    val dims = cells.map(_.getInt(1)).max + 1
    val idx = labels.zipWithIndex.toMap
    val cents = Array.ofDim[Long](labels.length, dims)
    cells.foreach { r =>
      cents(idx(r.getLong(0)))(r.getInt(1)) =
        Math.floorDiv(r.getLong(2), r.getLong(3))
    }
    val bc = spark.sparkContext.broadcast(cents)
    val bidx = spark.sparkContext.broadcast(idx)
    val silQ = udf { (qv: Seq[Long], label: Long) =>
      val cs = bc.value
      val own = bidx.value(label)
      var a = 0L
      var b = Long.MaxValue
      var ci = 0
      while (ci < cs.length) {
        val c = cs(ci)
        var d = 0L
        var i = 0
        while (i < c.length) { val t = qv(i) - c(i); d += t * t; i += 1 }
        if (ci == own) a = d else if (d < b) b = d
        ci += 1
      }
      val s =
        if (a == 0L && b == 0L) 0.0
        else {
          val sa = math.sqrt(a.toDouble)
          val sb = math.sqrt(b.toDouble)
          (sb - sa) / math.max(sa, sb)
        }
      math.floor(s * 1e7 + 0.5).toLong
    }
    val out = q
      .select(col("label"), silQ(col("qv"), col("label")).as("__sq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("__sq").as("__sum"))
      .select(col("label"), col("n_vecs"),
        (col("__sum").cast("double") /
          (col("n_vecs").cast("double") * lit(1e7)))
          .as("mean_silhouette"))
    Caching.materializeAndRelease(out, q)
  }
}
