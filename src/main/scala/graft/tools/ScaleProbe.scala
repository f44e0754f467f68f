package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Bench
import graft.core.Tables

/** Scale probe: runs the five most expensive operators at ~sf1 (10x the
  * largest driver-provided testdata) and prints one JSON line per probe.
  *
  * The driver ships testdata up to sf0.1 only, so the probe SYNTHESIZES
  * sf1-scale inputs from sf0.1: documents are replicated 10x with the id
  * space shifted and one token deterministically perturbed per replica
  * (so replicas are near- but not exact duplicates — the worst realistic
  * case for the dedup family: every bucket has ~10 co-located members),
  * and interval tables are generated at 10x the q16 row count. Inputs are
  * materialized to parquet under /tmp first, so probe timings measure the
  * operator, not the synthesis.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [workDir] [probeFilter]
  * probeFilter: comma-separated substrings — only matching probes run
  * (setup always runs; materialized inputs are reused across invocations).
  */
object ScaleProbe {

  private var only: Seq[String] = Nil

  private def timed(name: String)(body: => Long): Unit = {
    if (only.nonEmpty && !only.exists(name.contains)) return
    val t0 = System.nanoTime()
    val rows = body
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"probe":"$name","rows":$rows,"sec":$sec%.2f}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft-scaleprobe")
    only = args.lift(2).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val spark = graft.core.SessionTuning.local()
    // the probe's sf1-scale inputs are 10x the catalog's largest tables:
    // 64 shuffle partitions keep each reduce task near sf0.1 task size,
    // and the probe rows in SCALE.md were recorded with this setting
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    import graft.operators.{DedupOps, RegionJoins, TextOps}

    // ---- synthesize sf1-scale inputs (10x sf0.1), materialized first ----
    val docs01 = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val nDocs01 = docs01.count()
    val perturb = udf { (text: String, rep: Int) =>
      if (rep == 0 || text == null || text.isEmpty) text
      else {
        val toks = text.split(" ")
        val i = math.abs(31 * rep + text.length) % toks.length
        toks(i) = s"rep$rep"
        toks.mkString(" ")
      }
    }
    val docsBig = spark.range(10).crossJoin(docs01)
      .select((col("doc_id") + col("id") * nDocs01 * 2).as("doc_id"),
        perturb(col("text"), col("id").cast("int")).as("text"))
    def fresh(p: String): Boolean =
      !new java.io.File(p, "_SUCCESS").exists()
    val docsPath = s"$work/documents_sf1.parquet"
    // write every synthesized input repartitioned to the session
    // parallelism: a single-file layout reads as ONE scan task and
    // serializes the map side of every probe (round 12 found the
    // overlap probe measuring the file layout — 93s vs 18s — not the
    // operator); any real ingest writes many files
    if (fresh(docsPath))
      docsBig.repartition(64).write.mode("overwrite").parquet(docsPath)
    val docs = Tables.readParquet(spark, docsPath)
    println(s"""{"probe":"setup_docs","rows":${docs.count()}}""")

    // interval tables ~sf1: 2M left rows / 500k right rows over 25 contigs
    def intervals(n: Long, seed: Long, maxLen: Long): DataFrame =
      spark.range(n).select(
        concat(lit("chr"), (col("id") % 25).cast("string")).as("referenceName"),
        ((col("id") * 2654435761L + seed) % 100000000L).as("s0"),
        (((col("id") * 2654435761L + seed) % 100000000L) +
          (col("id") * 40503L + seed) % maxLen + 1L).as("e0"),
        col("id"))
        .select(col("referenceName"), abs(col("s0")).as("start"),
          (abs(col("s0")) + (abs(col("e0") - col("s0")) % maxLen) + 1L).as("end"),
          col("id"))
    val lPath = s"$work/left_sf1.parquet"; val rPath = s"$work/right_sf1.parquet"
    if (fresh(lPath)) intervals(2000000L, 7L, 5000L)
      .repartition(64).write.mode("overwrite").parquet(lPath)
    if (fresh(rPath)) intervals(500000L, 13L, 20000L)
      .repartition(64).write.mode("overwrite").parquet(rPath)
    val lIv = Tables.readParquet(spark, lPath); val rIv = Tables.readParquet(spark, rPath)

    // ---- probes ----
    timed("region_join_inner") {
      RegionJoins.overlapJoin(lIv, rIv, "inner").count()
    }
    // long-interval skew: structural-variant-scale right side (100 kb-1 Mb
    // spans). At the 10 kb default each record explodes into ~10-100 bins;
    // Auto derives a p95-length bin so replication stays ~2.
    val svPath = s"$work/right_sv_sf1.parquet"
    if (fresh(svPath)) spark.range(200000L).select(
        concat(lit("chr"), (col("id") % 25).cast("string")).as("referenceName"),
        (abs(col("id") * 2654435761L + 31L) % 100000000L).as("start"),
        col("id"))
      .select(col("referenceName"), col("start"),
        (col("start") + 100000L + (col("id") * 40503L) % 900000L).as("end"),
        col("id"))
      .select("referenceName", "start", "end", "id")
      .repartition(64).write.mode("overwrite").parquet(svPath)
    val svIv = Tables.readParquet(spark, svPath)
    timed("region_join_sv_default_bin") {
      RegionJoins.overlapJoin(lIv, svIv, "inner").count()
    }
    timed("region_join_sv_auto_bin") {
      RegionJoins.overlapJoin(lIv, svIv, "inner",
        binSize = RegionJoins.Auto).count()
    }
    timed("minhash_neardup") {
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text",
        numHashes = 128, shingleN = 3, bands = 32, threshold = 0.8).count()
    }
    spark.catalog.clearCache()
    timed("ppjoin_exact_jaccard") {
      DedupOps.jaccardSimilarityJoin(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5).count()
    }
    spark.catalog.clearCache()
    timed("cluster_duplicates") {
      val pairs = DedupOps.minhashNearDuplicates(docs, "doc_id", "text",
        numHashes = 128, shingleN = 3, bands = 32, threshold = 0.5)
        .select("id_a", "id_b")
      DedupOps.clusterDuplicates(pairs).count()
    }
    spark.catalog.clearCache()
    timed("pack_sequences") {
      TextOps.packTokenSpans(docs, "doc_id", "text", seqLen = 512).count()
    }
    // ExactSubstr on the replicated corpus is adversarial: ~90% of all
    // windows are duplicated (each doc has 9 near-copies), so the flagged
    // set — and the per-doc span lists — are near their worst case.
    // NOTE: .count() would let Catalyst ELIMINATE the whole pipeline here
    // (left join against a grouped — provably unique — key with no columns
    // referenced is join-eliminated), so aggregate the payload instead.
    spark.catalog.clearCache()
    timed("exact_substr_dedup") {
      DedupOps.exactSubstrDedupReport(docs, "doc_id", "text", minLen = 30)
        .agg(sum(col("removed_chars"))).collect().head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("exact_substr_dedup_hashed") {
      DedupOps.exactSubstrDedupReport(docs, "doc_id", "text", minLen = 30,
        hashGrams = true)
        .agg(sum(col("removed_chars"))).collect().head.getLong(0)
    }

    // embeddings ~sf1: 10x sf0.1 (20k vectors), each replica one dim
    // nudged — replicas land in the SAME cluster, so SemDeDup's
    // within-cluster pair scan sees ~10 co-located near-dups per vector
    // (its adversarial shape, like the perturbed documents above).
    val emb01 = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val nEmb01 = emb01.count()
    val nudge = udf { (v: Seq[Float], rep: Int) =>
      if (rep == 0 || v == null || v.isEmpty) v
      else v.updated(rep % v.length, v(rep % v.length) + 0.001f * rep)
    }
    val embPath = s"$work/embeddings_sf1.parquet"
    if (fresh(embPath)) spark.range(10).crossJoin(emb01)
      .select((col("vec_id") + col("id") * nEmb01 * 2).as("vec_id"),
        nudge(col("embedding"), col("id").cast("int")).as("embedding"))
      .repartition(64).write.mode("overwrite").parquet(embPath)
    val emb = Tables.readParquet(spark, embPath)

    spark.catalog.clearCache()
    timed("semantic_dedup") {
      graft.operators.SimilarityOps.semanticDuplicates(
        emb, "vec_id", "embedding", nClusters = 64, threshold = 0.3)
        .filter(col("dropped")).count()
    }
    spark.catalog.clearCache()
    timed("dsir_selection") {
      graft.operators.SamplingOps.dsirWeights(docs, "doc_id", "text",
        isTarget = pmod(col("doc_id"), lit(5)) === 0, k = 5000,
        buckets = 4096)
        .agg(sum(col("dsir_q"))).collect().head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("lm_perplexity") {
      val index = TextOps.lmIndex(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text",
        buckets = 1 << 16)
      TextOps.lmScoreAgainst(docs, index, "text", buckets = 1 << 16)
        .agg(sum(col("lm_q"))).collect().head.getLong(0)
    }

    // events ~sf1: 10x sf0.1 with the SAME user population — each replica
    // shifts ts by one span of the original time range, so every user has
    // 10x the events in one contiguous history. That is the adversarial
    // shape for the time-analytics family: per-user ordered windows
    // (asof carry, sessionize) get 10x deeper instead of the shuffle just
    // getting wider.
    val ev01 = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val nEv01 = ev01.count()
    val evPath = s"$work/events_sf1.parquet"
    if (fresh(evPath)) {
      val span = ev01.agg(
        (max(expr("unix_millis(ts)")) - min(expr("unix_millis(ts)")) +
          1000000L).as("span")).collect().head.getLong(0)
      spark.range(10).crossJoin(ev01)
        .select((col("event_id") + col("id") * nEv01 * 2).as("event_id"),
          expr(s"timestamp_millis(unix_millis(ts) + id * ${span}L)").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(64).write.mode("overwrite").parquet(evPath)
    }
    val ev = Tables.readParquet(spark, evPath)
    println(s"""{"probe":"setup_events","rows":${ev.count()}}""")
    import graft.operators.Sessionize

    spark.catalog.clearCache()
    timed("asof_join") {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      Sessionize.asofJoin(p, v, Seq("user_id"), "ts", "ts",
        Seq("event_id", "ts", "value"), rightTieBreak = "event_id").count()
    }
    spark.catalog.clearCache()
    timed("sessionize") {
      Sessionize.sessions(ev, "user_id", "ts", "event_id",
        gapSeconds = 1800L).count()
    }
    spark.catalog.clearCache()
    timed("funnel") {
      Sessionize.funnelCounts(
        ev.select(col("user_id"), col("event_type"),
          expr("unix_millis(ts)").as("ms")),
        "user_id", "event_type", "ms",
        Seq("view", "click", "purchase"), maxGap = Some(86400000L))
        .agg(sum(col("n_keys"))).collect().head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("retention_cohorts") {
      val e = ev.select(col("user_id"),
        expr("unix_millis(ts) div 604800000").as("wk"))
      val firsts = e.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
      e.join(firsts, "user_id")
        .groupBy(col("cohort_week"),
          (col("wk") - col("cohort_week")).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_users")).count()
    }

    // ---- round-8 operators ----
    // Multi-line pages for line dedup: 6 lines per doc — 3 doc-unique
    // (text substrings), 3 boilerplate shared corpus-wide (footer in all,
    // banner in 1/4, copyright in 1/2). ADVERSARIAL: half the exploded
    // line stream is a handful of ultra-hot keys — the worst skew shape
    // for the frequency agg and the ban join.
    spark.catalog.clearCache()
    timed("global_line_dedup") {
      val pages = docs.select(col("doc_id"), concat_ws("\n",
        col("text").substr(lit(1), lit(60)),
        lit("subscribe to our newsletter"),
        col("text").substr(lit(31), lit(60)),
        when(col("doc_id") % 4 === 0, lit("cookie banner"))
          .otherwise(col("text").substr(lit(61), lit(60))),
        concat(lit("copyright "), (col("doc_id") % 2).cast("string")),
        col("text").substr(lit(91), lit(60))).as("text"))
      TextOps.globalLineDedup(pages, "doc_id", "text", minDocs = 3)
        .agg(sum(col("n_removed"))).collect().head.getLong(0)
    }
    // PassJoin on 500k record keys: every 4-doc group shares a 16-hex-char
    // hash tag (group tags are FAR apart — a dense decimal id space would
    // make every id a digit-edit neighbor of hundreds of others and the
    // TRUE answer quadratic, which no algorithm outruns), with a
    // 1-append, a 1-substitution and a reversed (far) variant. Shared
    // "rec " prefixes still exercise the hot-segment skew path.
    spark.catalog.clearCache()
    timed("edit_distance_neardup") {
      val tag = lpad(hex(abs(xxhash64(expr("id div 4")))), 16, "0")
      val keys = spark.range(500000L).select(col("id").as("doc_id"),
        when(col("id") % 4 === 0, concat(lit("rec "), tag, lit(" v")))
          .when(col("id") % 4 === 1, concat(lit("rec "), tag, lit(" vx")))
          .when(col("id") % 4 === 2, concat(lit("rec Q"),
            substring(tag, 2, 15), lit(" v")))
          .otherwise(concat(lit("rev "), reverse(tag))).as("s"))
      DedupOps.editDistanceNearDuplicates(keys, "doc_id", "s", maxDist = 2)
        .count()
    }
    spark.catalog.clearCache()
    timed("collocations_pmi") {
      TextOps.collocationsPmi(docs, "text", minCount = 50L, k = 100).count()
    }
    spark.catalog.clearCache()
    timed("event_transitions") {
      Sessionize.eventTransitions(ev, "user_id", "event_type",
        "ts", "event_id")
        .agg(sum(col("n_transitions"))).collect().head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("disc_percentiles") {
      graft.operators.Quantiles.discPercentiles(ev, "event_type", "value",
        "event_id", Seq(0.5, 0.9, 0.99)).count()
    }
    // ---- round-8 sketch/graph probes: the 10x documents corpus and a
    // synthetic ~5M-edge co-occurrence graph (sf1-equivalent lineitem
    // self-join volume) exercise the new families at scale ----
    spark.catalog.clearCache()
    timed("cms_heavy_hitters") {
      graft.operators.SketchOps.cmsHeavyHitters(docs, "text").count()
    }
    spark.catalog.clearCache()
    timed("hll_distinct") {
      graft.operators.SketchOps.hllSummary(docs, "text").count()
    }
    spark.catalog.clearCache()
    timed("source_overlap_sketch") {
      // group key with ~20 groups over the 10x corpus
      val grouped = docs.withColumn("source",
        concat(lit("s"), (col("doc_id") % 20).cast("string")))
      graft.operators.SketchOps.sketchOverlap(
        graft.operators.SketchOps.bottomKSketch(
          grouped, "source", "text"), 256).count()
    }
    spark.catalog.clearCache()
    val bigEdges = {
      // ~1M baskets x ~5 items: 5M directed co-occurrence edges after
      // dedup — the sf1-equivalent of the lineitem co-purchase graph
      val inc = spark.range(5000000L).select(
        (col("id") % 1000000L).as("k"),
        ((col("id") * 2654435761L + col("id") % 97) % 30000L).as("item"))
      graft.operators.GraphOps.coOccurrenceEdges(inc, "k", "item")
    }
    timed("pagerank_5m_edges") {
      graft.operators.GraphOps.pageRank(bigEdges, iters = 5).count()
    }
    spark.catalog.clearCache()
    timed("triangles_5m_edges") {
      graft.operators.GraphOps.triangleCounts(bigEdges)
        .agg(sum(col("n_triangles"))).collect().head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("bpe_train_50k_docs") {
      // round 9: 10 BPE merges over the 10x corpus — the word-histogram
      // shuffle once, then 10 vocabulary-sized rounds
      graft.operators.TokenizerOps.bpeMerges(docs, "text", 10).count()
    }
    spark.catalog.clearCache()
    timed("cdc_chunk_dedup_50k_docs") {
      // round 9: content-defined chunking + savings report; the replicated
      // corpus is chunk-dedup's best case (9 near-copies per doc), so the
      // chunk aggregation sees maximal duplicate mass
      graft.operators.DedupOps.chunkDedupReport(
        graft.operators.DedupOps.contentDefinedChunks(
          docs, "doc_id", "text", window = 8, maskBits = 6))
        .collect().head.getLong(3)
    }
    spark.catalog.clearCache()
    timed("kcore_5m_edges") {
      // round 9: the histogram-median gate + 4 peel rounds on the same
      // 5M-edge graph — no node-table sort anywhere in the plan
      graft.operators.GraphOps.kCoreByMedianDegree(bigEdges, rounds = 4)
        .count()
    }
    spark.catalog.clearCache()
    timed("lpa_5m_edges") {
      // round 10: 4 deterministic LPA rounds on the same 5M-edge graph —
      // per round one dst-keyed join + one (node,label) count + argmax
      graft.operators.GraphOps.labelPropagation(bigEdges, rounds = 4)
        .count()
    }
    spark.catalog.clearCache()
    timed("nb_route_500k_docs") {
      // round 10: NB train on half the 10x corpus, classify the other
      // half — one labels x 4096 aggregation + one broadcast-join score
      val labeled = docs.withColumn("lang",
        concat(lit("l"), (col("doc_id") % 5).cast("string")))
      graft.operators.ClassifierOps.nbConfusion(
        labeled.filter(col("doc_id") % 2 === 0),
        labeled.filter(col("doc_id") % 2 === 1),
        "doc_id", "lang", "text", buckets = 4096).count()
    }
    spark.catalog.clearCache()
    timed("video_neardup_50k_clips") {
      // round 9: 50k 3-frame 16x12 AVI clips (10x the q101 corpus),
      // 1-in-4 a brightness-shifted re-encode of its predecessor — decode
      // dominates (embarrassingly parallel); banded Hamming join after.
      // Unlike q101's linear-mod-250 pixels (fine at 500 docs, but only
      // ~250 distinct contents — a 50k corpus would be one giant duplicate
      // class), each clip seeds from splitmix64 so contents are unique and
      // the planted predecessor pairs are the only expected matches.
      val aviUdf = udf { id: Long =>
        val eid = if (id % 4 == 1) id - 1 else id
        val shift = if (id % 4 == 1) 3 else 0
        val frames = Array.tabulate(3) { f =>
          val base = graft.operators.DedupOps.splitmix64(eid * 7 + f)
          Array.tabulate(16 * 12)(i =>
            (math.floorMod(base + i * 3 + (i % 7) * (base >> 8), 250L)
              + shift).toInt)
        }
        graft.sources.Avi.encode(16, 12, 40000, frames)
      }
      val clips = spark.range(50000L).select(col("id").as("media_id"),
        aviUdf(col("id")).as("payload"))
      graft.operators.MultimodalOps.videoNearDuplicates(
        clips, maxDist = 3, bands = 4).count()
    }
    spark.catalog.clearCache()
    timed("warc_intake") {
      // 8 gzip-per-record archives x 6,250 response records (the Common
      // Crawl layout in miniature): write once, then time the streamed
      // read -> envelope strip -> htmlToText over all files
      import graft.sources.WarcIO
      val warcDir = s"$work/warc"
      new java.io.File(warcDir).mkdirs()
      if (!new java.io.File(s"$warcDir/w0.warc.gz").exists()) {
        (0 until 8).foreach { f =>
          val recs = (0 until 6250).map { i =>
            val id = f * 6250 + i
            WarcIO.WarcRecord("response",
              Some(s"http://example.com/p$id"),
              Some("2024-01-01T00:00:00Z"),
              Some("application/http; msgtype=response"),
              Some(s"<urn:uuid:$id>"),
              (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
                s"<html><body><h1>Page $id</h1><p>body text $id " +
                ("lorem ipsum " * 40) + "</p></body></html>")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          WarcIO.write(s"$warcDir/w$f.warc.gz", recs, gzipPerRecord = true)
        }
      }
      WarcIO.responses(WarcIO.read(spark, s"$warcDir/*.warc.gz"))
        .select(graft.operators.WebOps.htmlToText(col("html")).as("text"))
        .filter(length(col("text")) > 0)
        .count()
    }
    spark.catalog.clearCache()
    timed("pca_label_projection") {
      // 500k synthetic 64-dim vectors — 100x the sf0.1 embeddings table
      val vecs = spark.range(500000L).select(col("id").as("vec_id"),
        (col("id") % 10).cast("int").as("label"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(col("id") * 31 + d * 7, lit(1000)) - 500) / 1000.0)
            .cast("float")).as("embedding"))
      graft.operators.ClusteringOps.pcaLabelProjection(vecs).count()
    }
    spark.catalog.clearCache()
    timed("mmr_500k_vecs") {
      // round 10: MMR top-10 over 500k vectors — one relevance cosine
      // scan + TakeOrdered(200) prefilter; the 10 greedy rounds then run
      // on the bounded persisted candidate table
      val vecs = spark.range(500000L).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(col("id") * 31 + d * 7, lit(1000)) - 500) / 1000.0)
            .cast("float")).as("embedding"))
      val qv = (0 until 64).map(d =>
        ((31 + d * 7) % 1000 - 500) / 1000.0)
      graft.operators.SimilarityOps.mmrSelect(
        vecs.filter(col("vec_id") =!= 1L), qv, k = 10,
        lambda = 0.7, nCandidates = 200,
        idCol = "vec_id", vecCol = "embedding").count()
    }
    spark.catalog.clearCache()
    timed("budget_select_5m_rows") {
      // round 10: two-phase global cumsum over 5M rows — range partitions
      // + per-partition cumsums + broadcast offsets; the only
      // single-partition window is over one row per range partition
      val rows = spark.range(5000000L).select(col("id").as("doc_id"),
        pmod(col("id") * 2654435761L, lit(1000L)).as("score"),
        (pmod(col("id") * 40503L, lit(400L)) + 100L).as("toks"))
      graft.operators.SamplingOps.budgetSelect(
        rows, "doc_id", "score", "toks", budget = 600000000L)
        .filter(col("selected")).count()
    }
    spark.catalog.clearCache()
    timed("snapshot_delta_50k_docs") {
      // round 10: old = the 10x corpus, new = same with 1/10 deleted,
      // 1/10 edited (replica perturbation), 1/10 new ids — one
      // fingerprint-width full-outer join
      val old = docs
      val nw = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10L)) === 1L,
            concat(col("text"), lit(" edited"))).otherwise(col("text"))
            .as("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
      graft.operators.SnapshotOps.snapshotDelta(old, nw, "doc_id", "text")
        .groupBy("status").count().collect().map(_.getLong(1)).sum
    }
    spark.catalog.clearCache()
    timed("boilerplate_50k_docs") {
      // round 10: every doc of a 20-source corpus carries a per-source
      // footer + parity nav around its real text — the df aggregation
      // sees 50k occurrences of 20 hot paragraphs (map-side combined)
      val composed = docs.select(col("doc_id"),
        concat(lit("s"), pmod(col("doc_id"), lit(20L)).cast("string"))
          .as("source"),
        concat_ws("\n\n",
          concat(lit("footer "), pmod(col("doc_id"), lit(20L)).cast("string")),
          col("text"),
          concat(lit("nav "), pmod(col("doc_id"), lit(40L)).cast("string")))
          .as("text"))
      graft.operators.DedupOps.removeBoilerplate(
        composed, "doc_id", "text", "source", minDocs = 3)
        .agg(sum("removed_chars")).collect().head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("salted_join_5m_skewed") {
      // round 10: 5M-row fact with 60% of rows on ONE key, joined to a
      // 10k-row dim under 32-way salting — no reducer sees the hot key
      // whole; result must equal the plain join's row count
      val fact = spark.range(5000000L).select(col("id"),
        when(pmod(col("id"), lit(5L)) < 3L, lit(7L))
          .otherwise(pmod(col("id") * 2654435761L, lit(10000L))).as("k"))
      val dim = spark.range(10000L).select(col("id").as("k"),
        concat(lit("seg"), pmod(col("id"), lit(5L)).cast("string"))
          .as("seg"))
      graft.operators.SkewOps.saltedJoin(
        fact, dim, Seq("k"), "id", salts = 32).count()
    }
    spark.catalog.clearCache()
    timed("next_events_1m") {
      // round 10: bounded-history examples over the 10x-deep user
      // timelines — the ROWS[-3,-1] frame keeps per-row state constant
      // even though each user's ordered history is 10x longer
      // aggregate OVER the history column — a bare count() would let
      // column pruning eliminate the window entirely
      Sessionize.nextEventExamples(
        ev, "user_id", "event_type", "ts", "event_id", historyLen = 3)
        .agg(sum(length(col("history")))).collect().head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("source_novelty_50k") {
      // round 10: novelty attribution over the 10x near-dup corpus with
      // 20 synthetic sources — the (source, fp) projection carries all
      // three aggregations; text never shuffles
      val src = docs.select(col("doc_id"),
        concat(lit("s"), pmod(col("doc_id"), lit(20L)).cast("string"))
          .as("source"), col("text"))
      graft.operators.CorpusCompareOps.sourceNovelty(src, "text", "source")
        .agg(sum("n_novel")).collect().head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("source_cosine_50k") {
      // round 10: pairwise source cosine — ONE corpus token aggregation
      // to the bounded 20 x 4096 counts table, then broadcast pair join
      val src = docs.select(
        concat(lit("s"), pmod(col("doc_id"), lit(20L)).cast("string"))
          .as("source"), col("text"))
      graft.operators.CorpusCompareOps.sourceSimilarity(
        src, "text", "source", buckets = 4096).count()
    }
    spark.catalog.clearCache()
    timed("chi2_features_50k") {
      // round 10: chi-square feature scan — same bounded grid contract
      val src = docs.select(
        concat(lit("s"), pmod(col("doc_id"), lit(20L)).cast("string"))
          .as("source"), col("text"))
      graft.operators.CorpusCompareOps.chiSquareFeatures(
        src, "source", "text", buckets = 4096, k = 50).count()
    }
    spark.catalog.clearCache()
    timed("gini_5m") {
      // round 10: per-group Gini over 5M rows, 20 groups — one keyed
      // rank window + one map-side-combined DECIMAL aggregation
      val rows = spark.range(5000000L).select(col("id"),
        concat(lit("g"), pmod(col("id"), lit(20L)).cast("string"))
          .as("g"),
        pmod(col("id") * 2654435761L, lit(10000L)).as("v"))
      graft.operators.Stats.giniByGroup(rows, "g", "v", "id").count()
    }
    spark.catalog.clearCache()
    timed("global_ntile_5m") {
      // round 10: exact ANSI NTILE(100) over 5M heavy-tied rows — the
      // range-partition + broadcast-offsets plan; a window ntile would
      // drag all 5M rows through one partition
      val rows = spark.range(5000000L).select(col("id"),
        pmod(col("id") * 2654435761L, lit(5000L)).as("v"))
      graft.operators.Quantiles.globalNtile(rows, "v", "id", n = 100)
        .groupBy("bucket").count().count()
    }
    spark.catalog.clearCache()
    timed("key_skew_report_5m") {
      // round 10: the measure-before-you-salt diagnostic on the same
      // 60%-one-key fact the salted-join probe uses — one map-side
      // combined count + TakeOrdered(20) head, totals broadcast back
      val fact = spark.range(5000000L).select(col("id"),
        when(pmod(col("id"), lit(5L)) < 3L, lit(7L))
          .otherwise(pmod(col("id") * 2654435761L, lit(10000L))).as("k"))
      graft.operators.SkewOps.keySkewReport(fact, "k", k = 20).count()
    }
    spark.catalog.clearCache()
    timed("table_profile_50k") {
      // round 11: q143 single-pass profile — one Expand aggregation over
      // rows x columns, the documented exact-profile price, paid once
      graft.operators.ProfileOps.profileColumns(
        docs.withColumn("lang", pmod(col("doc_id"), lit(20L)).cast("string"))
          .withColumn("n_chars", length(col("text"))),
        Seq("doc_id", "text", "lang", "n_chars")).count()
    }
    spark.catalog.clearCache()
    timed("rolling_actives_30d_1m") {
      // round 11: q147's contribute-forward explode at its worst case —
      // windowDays=30 multiplies the DISTINCT (user, day) pair volume by
      // 30 (never per-day rescans); 10x-deeper histories from the
      // replicated events make the distinct projection the dense shape
      graft.operators.Sessionize.rollingDistinctActives(
        ev, "user_id", "ts", windowDays = 30).count()
    }
    spark.catalog.clearCache()
    timed("volume_anomalies_1m") {
      // round 11: q148 trailing-window z-flags — one (type, day) agg,
      // then a keyed ROWS[-7,-1] window over the bounded daily table
      val daily = ev.select(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      graft.operators.Stats.volumeAnomalies(daily, "event_type", "day", "n")
        .count()
    }
    spark.catalog.clearCache()
    timed("balanced_shards_5m") {
      // round 11: serpentine shard packing over 5M rows — the two-phase
      // global rank (range exchange + broadcast offsets), then per-row
      // integer arithmetic; report aggregates to 64 rows
      val rows = spark.range(5000000L).select(col("id"),
        pmod(col("id") * 2654435761L, lit(100000L)).as("sz"))
      graft.operators.ShardOps.shardReport(rows, "sz", "id", 64).count()
    }
    spark.catalog.clearCache()
    timed("modularity_4m6") {
      // round 11: modularity of a 16-bucket partition over the same
      // 4.6M-directed-edge basket graph PageRank uses — one edge
      // canonicalization + two map-side-combined aggregations; labels
      // from the node-id range, never the edge join (see q154)
      val labels = spark.range(30000L).select(col("id"),
        pmod(col("id"), lit(16L)).as("label"))
      graft.operators.GraphOps.modularity(bigEdges, labels).count()
    }
    spark.catalog.clearCache()
    timed("assortativity_4m6") {
      // round 11: degree assortativity over the same basket graph — the
      // triangleCounts prelude (canonical distinct + degree joins) with
      // one combined 128-bit sum instead of the wedge join
      graft.operators.GraphOps.assortativity(bigEdges).count()
    }
    spark.catalog.clearCache()
    timed("first_touch_1m") {
      // round 11: RANGE[-1d, 0] first-touch credit over 1M events with
      // 10x-deep user timelines — one keyed window exchange; per-row
      // frame cost is bounded by the window SPAN, not history depth
      graft.operators.Sessionize.firstTouchAttribution(
        ev, "user_id", "event_type", "ts", "event_id",
        "view", "purchase", 86400000L).count()
    }
    spark.catalog.clearCache()
    timed("interarrival_1m") {
      // round 11: gap percentiles over 1M events with 10x-deep user
      // histories — one keyed lag window + the distributed-rank summary
      graft.operators.Sessionize.interArrivalStats(
        ev, "user_id", "ts", "event_id", "event_type").count()
    }
    spark.catalog.clearCache()
    timed("winsorize_5m") {
      // round 11: p1/p99 clamp audit over 5M rows, 20 groups — the
      // distributed-rank cuts broadcast back onto one combined agg
      val rows = spark.range(5000000L).select(col("id"),
        concat(lit("g"), pmod(col("id"), lit(20L)).cast("string")).as("g"),
        pmod(col("id") * 2654435761L, lit(1000000L)).as("cents"))
      graft.operators.Stats.winsorizeReport(rows, "g", "cents", "id")
        .count()
    }
    spark.catalog.clearCache()
    timed("calendar_fill_1m") {
      // round 11: q150 gap fill over the 10x time span (10x the calendar
      // rows per type) — sequence() explode on the bounded span table +
      // one keyed last_value window, data rows never re-scan
      val daily = ev.filter(col("value") > 300)
        .select(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("peak_cents"))
        .groupBy("event_type", "day").agg(max("peak_cents").as("peak_cents"))
      graft.operators.TimeSeriesOps.calendarFill(
        daily, "event_type", "day", "peak_cents").count()
    }
    spark.catalog.clearCache()
    timed("merge_clusters_inc") {
      // round 12: q160 incremental CC maintenance — 500k existing labels
      // (100k clusters of 5) + 500k new pairs (450k in-cluster echoes +
      // 50k bridges joining adjacent clusters); cost = labels + pairs +
      // log-diameter pointer-jumping rounds, never historical candidates
      val labels = spark.range(500000L).select(col("id"),
        (col("id") - pmod(col("id"), lit(5L))).as("cluster_id"))
      val pairs = spark.range(450000L).select(col("id").as("id_a"),
          (col("id") - pmod(col("id"), lit(5L))).as("id_b"))
        .unionAll(spark.range(50000L).select((col("id") * 10L).as("id_a"),
          (col("id") * 10L + 5L).as("id_b")))
      graft.operators.DedupOps.mergeClusters(labels, pairs).count()
    }
    spark.catalog.clearCache()
    timed("psi_report") {
      // round 12: q161 PSI drift over the 10x events — one
      // map-side-combined (side, bucket) count grid (bounded buckets),
      // then pure arithmetic on the grid; scales with rows scanned once
      graft.operators.CorpusCompareOps.psiReport(
        ev.select(
          ((expr("unix_millis(ts) div 604800000") % 2) === 1).as("is_cur"),
          expr("CAST(floor(value*100 + 0.5) AS BIGINT) div 500").as("vb")),
        "is_cur", "vb").count()
    }
    spark.catalog.clearCache()
    timed("capped_topk_dominant") {
      // round 12: q162 at 5M rows with ONE group owning 60% of the data —
      // the cap must bind below the shuffle (WindowGroupLimit), so the
      // dominant group forwards <= cap rows per map task, never 3M rows
      // to one reducer
      val rows = spark.range(5000000L).select(col("id"),
        when(pmod(col("id"), lit(10L)) < 6, lit("g_dom"))
          .otherwise(concat(lit("g"), pmod(col("id"), lit(10L))))
          .as("source"),
        pmod(col("id") * 2654435761L, lit(10000000L)).as("score"))
      graft.operators.SamplingOps.cappedTopK(
        rows, "score", "source", "id", k = 10000, perGroupCap = 100).count()
    }
    spark.catalog.clearCache()
    timed("mad_outliers_5m") {
      // round 12: q163 at 5M rows x 20 groups — two distributed-rank
      // disc medians (no buffering percentile agg) + broadcast joins of
      // the 20-row summaries; decision path pure integer
      val rows = spark.range(5000000L).select(col("id"),
        concat(lit("g"), pmod(col("id"), lit(20L))).as("g"),
        (pmod(col("id") * 48271L, lit(100000L)) +
          when(pmod(col("id"), lit(997L)) === 0, lit(50000000L))
            .otherwise(lit(0L))).as("cents"))
      graft.operators.Stats.madOutliers(rows, "g", "cents", "id")
        .filter(col("is_out")).count()
    }
    spark.catalog.clearCache()
    timed("hits_5m_edges") {
      // round 12: q172 integer HITS, 3 iterations over a ~5M-edge
      // bipartite graph (1M hubs x 30k authorities) — per iteration one
      // src-keyed + one dst-keyed join against the persisted edges, a
      // broadcast 1-row normalizer, vector lineage cut per half-step
      val inc = spark.range(5000000L).select(
        (col("id") % 1000000L).as("src"),
        ((col("id") * 2654435761L + col("id") % 97) % 30000L).as("dst"))
      graft.operators.GraphOps.hits(inc, iters = 3).count()
    }
    spark.catalog.clearCache()
    timed("rfm_5m_events") {
      // round 12: q173 at 5M events / 200k users — the per-key agg
      // collapses the event volume first; the three exact-ntile passes
      // range-exchange only the 200k-row per-key table
      val rows = spark.range(5000000L).select(
        pmod(col("id") * 48271L, lit(200000L)).as("u"),
        timestamp_millis(lit(1700000000000L) +
          pmod(col("id") * 2654435761L, lit(86400000L * 90))).as("ts"),
        (pmod(col("id"), lit(10000L)).cast("double") / 100.0).as("value"))
      graft.operators.Sessionize.rfmScores(rows, "u", "ts", "value")
        .count()
    }
    spark.catalog.clearCache()
    timed("source_overlap_exact_50k") {
      // round 12: q169 exact pair matrix over the 10x corpus at word-
      // 3-gram granularity, 20 sources — the (source, fp) distinct is
      // the volume path (one digest shuffle); the fp self-join fans out
      // <= |sources|^2 per key; the replicated corpus is the worst case
      // (every shingle lives in all 20 sources); the setup layout is
      // partitioned, so the shingle map parallelizes like any real
      // ingest.
      val grouped = docs.withColumn("source",
        concat(lit("s"), (col("doc_id") % 20).cast("string")))
      graft.operators.CorpusCompareOps.sourceOverlapExact(
        grouped.select(col("source"),
          explode(graft.operators.DedupOps.shinglesCol(col("text"), 3))
            .as("sg")),
        "sg", "source").count()
    }
    spark.catalog.clearCache()
    timed("percent_rank_dominant_5m") {
      // round 13: q164 at 5M rows with ONE group owning 60% — the exact
      // shape the built-in percent_rank window dies on (hash-partition by
      // group = one task sorts 3M rows). The two-phase plan range-
      // exchanges (group, score) so the dominant group spreads across
      // partitions; aggregate the output column so pruning can't skip it
      val rows = spark.range(5000000L).select(col("id"),
        when(pmod(col("id"), lit(10L)) < 6, lit("g_dom"))
          .otherwise(concat(lit("g"), pmod(col("id"), lit(10L))))
          .as("g"),
        pmod(col("id") * 2654435761L, lit(10000000L)).as("score"))
      graft.operators.Stats.percentRankNormalize(rows, "g", "score")
        .agg(sum(col("pct_rank"))).collect()
        .head.getDouble(0).toLong
    }
    spark.catalog.clearCache()
    timed("horizon_dedup_1m") {
      // round 13: q165 over the 10x events with 10x-deep (type|user)
      // timelines — ONE keyed window exchange computes both the lag gap
      // test and the epoch cumsum; per-row frame state is constant, so
      // deeper timelines widen tasks, never blow memory
      graft.operators.DedupOps.horizonDedup(
        ev.select(concat(col("event_type"), lit("|"),
            col("user_id").cast("string")).as("page"),
          col("ts"), col("event_id")),
        "page", "ts", "event_id", horizonMs = 3600000L)
        .agg(sum(when(col("fresh"), 1L).otherwise(0L))).collect()
        .head.getLong(0)
    }
    spark.catalog.clearCache()
    timed("nearest_centroid_eval_500k") {
      // round 13: q174 over 500k 64-dim vectors, 10 labels — the moment
      // aggregation collapses to |labels| x dim = 640 cells before the
      // bounded collect; classify is one broadcast scan; the shape audit
      // adds one extra pass over the persisted projection
      val vecs = spark.range(500000L).select(col("id").as("vec_id"),
        (col("id") % 10).cast("int").as("label"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(col("id") * 31 + d * 7, lit(1000)) - 500) / 1000.0)
            .cast("float")).as("embedding"))
      graft.operators.ClusteringOps.nearestCentroidEval(
        vecs, "label").count()
    }
    spark.catalog.clearCache()
    timed("source_overlap_200_sources") {
      // round 13: the q169 fp self-join at an ADVERSARIAL source count —
      // 200 sources means the per-fingerprint fanout bound is 200^2 =
      // 40k (vs 400 at the documented 20-source panel) and the grid is
      // 19,900 pairs; confirms the |sources|^2 contract holds in
      // practice, not just in the scaladoc
      val grouped = docs.withColumn("source",
        concat(lit("s"), (col("doc_id") % 200).cast("string")))
      graft.operators.CorpusCompareOps.sourceOverlapExact(
        grouped.select(col("source"),
          explode(graft.operators.DedupOps.shinglesCol(col("text"), 3))
            .as("sg")),
        "sg", "source").count()
    }
    spark.catalog.clearCache()
    timed("auc_dominant_5m") {
      // round 13: q190 at 5M rows with ONE group owning 60% — the same
      // dominant-group shape as the percent-rank probe (AUC rides the
      // identical two-phase rank); midrank ties forced by a 10k-value
      // score space
      val rows = spark.range(5000000L).select(col("id"),
        when(pmod(col("id"), lit(10L)) < 6, lit("g_dom"))
          .otherwise(concat(lit("g"), pmod(col("id"), lit(10L))))
          .as("g"),
        pmod(col("id") * 2654435761L, lit(10000L)).as("score"),
        (pmod(col("id") * 48271L, lit(7L)) < 3).as("y"))
      graft.operators.Stats.aucByGroup(rows, "g", "score", "y")
        .count()
    }
    spark.catalog.clearCache()
    timed("ks_drift_5m") {
      // round 13: q184 at 5M rows — the map-side grid collapse leaves a
      // 10k-value CDF table for the unkeyed windows, however big the
      // input
      val rows = spark.range(5000000L).select(
        (pmod(col("id"), lit(3L)) === 0).as("side"),
        pmod(col("id") * 2654435761L, lit(10000L)).as("v"))
      graft.operators.Stats.ksDrift(rows, "side", "v").count()
    }
    spark.catalog.clearCache()
    timed("entropy_per_user_10x") {
      // round 13: q195 per-user entropy over the 10x events — group
      // cardinality is the user space, each group's value grid is the
      // |event types| bound; both aggs map-side combine
      graft.operators.Stats.entropyByGroup(ev, "user_id", "event_type")
        .count()
    }
    spark.catalog.clearCache()
    timed("silhouette_500k") {
      // round 13: q188 over 500k 64-dim vectors, 10 labels — the
      // nearestCentroidEval probe shape plus the per-row scoring UDF
      val vecs = spark.range(500000L).select(col("id").as("vec_id"),
        (col("id") % 10).cast("int").as("label"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(col("id") * 31 + d * 7, lit(1000)) - 500) / 1000.0)
            .cast("float")).as("embedding"))
      graft.operators.ClusteringOps.simplifiedSilhouette(vecs, "label")
        .count()
    }
    spark.catalog.clearCache()
    timed("skipgram_10x_docs") {
      // round 13: q201 at 10x documents — the context-position explode
      // pays exactly 2w x tokens; the join is (doc, position) equi, so
      // wall-clock tracks token volume, never doc-length^2
      graft.operators.TextOps.skipGramPairs(
        docs, "doc_id", "text", window = 2, minCount = 5L).count()
    }
    spark.catalog.clearCache()
    timed("column_drift_10x_docs") {
      // round 13: q207 over the 10x corpus — per-row fnv bucket hash,
      // two map-side-combined grid counts, windows only on the
      // |cols| x 65 grid
      val a = docs.withColumn("lang",
        concat(lit("l"), pmod(col("doc_id"), lit(7L)).cast("string")))
      val b = a.withColumn("lang",
        when(pmod(col("doc_id"), lit(3L)) === 0, lit("zz"))
          .otherwise(col("lang")))
      graft.operators.ProfileOps.columnDrift(
        a.select(col("lang"), col("text")),
        b.select(col("lang"), col("text")),
        Seq("lang", "text")).count()
    }
    spark.catalog.clearCache()
    timed("json_key_profile_10x") {
      // q198's shape at the 10x event count: the key/type grid is
      // bounded, so the cost that scales is the per-row native
      // from_json parse, measured here
      val js = ev.select(
        when(pmod(col("event_id"), lit(17L)) === 0, lit("{oops"))
          .otherwise(concat(
            lit("{\"k\": "),
            pmod(col("event_id"), lit(100L)).cast("string"),
            when(pmod(col("event_id"), lit(3L)) === 0,
              lit(", \"dev\": \"mobile\", \"tags\": [1, 2]"))
              .when(pmod(col("event_id"), lit(3L)) === 1,
                lit(", \"dev\": \"web\", \"geo\": {\"c\": \"US\"}"))
              .otherwise(lit(", \"flag\": true, \"note\": null")),
            lit("}"))).as("props"))
      graft.operators.ProfileOps.jsonKeyProfile(js, "props").count()
    }
    spark.catalog.clearCache()
    timed("cusum_deep_keys_10x") {
      // round 13: q189 machinery at high key cardinality — hourly CUSUM
      // per (type|user) over the 10x events: the (key, bucket) grid is
      // the only exchange, each key's timeline is calendar-bounded
      graft.operators.Sessionize.cusumChangepoint(
        ev.select(concat(col("event_type"), lit("|"),
            col("user_id").cast("string")).as("k"),
          col("ts")),
        "k", "ts", bucketMs = 3600000L).count()
    }
    spark.catalog.clearCache()
    timed("bootstrap_ci_5m_b64") {
      // q216's machinery at 5M rows
      // and b=64 — the (b+1)x map-side explode is the documented CPU
      // price (325M weighted rows pass the partial agg); the SHUFFLE
      // must stay grid-sized (1000 groups x 65 replicates), never 65x
      // the data
      val rows = spark.range(5000000L).select(
        pmod(col("id"), lit(1000L)).cast("string").as("g"),
        pmod(col("id") * 2654435761L, lit(100000L)).as("v"),
        col("id").cast("string").as("rid"))
      graft.operators.SamplingOps.bootstrapCi(rows, "g", "v", "rid",
        b = 64).count()
    }
    spark.catalog.clearCache()
    timed("hardy_weinberg_5m_sites") {
      // 25M genotypes over 5M
      // distinct sites with a dominant hot site (20% of all rows) —
      // site cardinality is unbounded output, the hot key rides the
      // map-side partial agg (never a single-task sort or window)
      val rows = spark.range(25000000L).select(
        when(pmod(col("id"), lit(5L)) === 0, lit(0L))
          .otherwise(pmod(col("id") * 2654435761L, lit(5000000L)))
          .as("site"),
        pmod(col("id"), lit(3L)).cast("int").as("gt"))
      graft.operators.VariantQc.hardyWeinberg(rows, "site", "gt")
        .count()
    }
    spark.catalog.clearCache()
    timed("genotype_concordance_10m_hot_site") {
      // two 10M-row callsets whose
      // (site, sample) keys concentrate 20% of rows on ONE hot site —
      // the full-outer join keys on the COMPOSITE (site, sample), so
      // the hot site hashes across partitions and AQE sees no residual
      // skew; 80% key overlap exercises both MISSING paths
      def callset(lo: Long) = spark.range(lo, lo + 10000000L).select(
        when(pmod(col("id"), lit(5L)) === 0, lit(0L))
          .otherwise(pmod(col("id") * 40503L, lit(1000000L)))
          .as("site"),
        col("id").as("sample"),
        pmod(col("id") * 7L, lit(4L)).cast("string").as("cls"))
      graft.operators.VariantQc.genotypeConcordance(
        callset(0L), callset(2000000L), Seq("site", "sample"), "cls")
        .count()
    }
    spark.catalog.clearCache()
    timed("king_kinship_5m_gts_100_samples") {
      // round 15: the quadratic pairwise operator at its contract
      // scale — 100 samples x 50k sites = 5M genotypes; the site join
      // fans out 100x99/2 pair rows per site (247M pair comparisons)
      // but the census collapses map-side to the bounded 4,950-pair
      // grid; wall-clock tracks sites x samples^2, the documented
      // bounded-cohort price
      val rows = spark.range(5000000L).select(
        (col("id") % 50000L).as("site"),
        concat(lit("s"), (col("id") / 50000L).cast("long").cast("string"))
          .as("sample_id"),
        pmod(col("id") * 2654435761L, lit(3L)).cast("int").as("gt"))
      graft.operators.VariantQc.kingKinship(rows, "sample_id", "site",
        "gt", maxSamples = 128L).count()
    }
    spark.catalog.clearCache()
    timed("trimmed_mean_5m_dominant_group") {
      // round 15: the per-group rank-window contract under the worst
      // shape — ONE group holding all 5M rows, so its sort runs in one
      // task (the discPercentiles disc-selection contract; the
      // globalNtile two-phase rank is the escalation path if a single
      // group outgrows a task)
      // ONE dominant group, through a non-foldable expression: a
      // literal group key would constant-fold the equi-joins away
      // (cartesian) — a probe artifact no real column has
      val rows = spark.range(5000000L).select(
        when(pmod(col("id"), lit(1L)) === 0L, "g").otherwise("x")
          .as("g"),
        pmod(col("id") * 2654435761L, lit(1000000L)).as("v"),
        col("id").as("t"))
      Bench.force(graft.operators.Stats.trimmedMeanByGroup(rows, "g", "v",
        "t"))
    }
    spark.catalog.clearCache()
    timed("median_mad_5m_dominant_group") {
      // round 15: same contract, two rank passes + keyed median join
      // ONE dominant group, through a non-foldable expression: a
      // literal group key would constant-fold the equi-joins away
      // (cartesian) — a probe artifact no real column has
      val rows = spark.range(5000000L).select(
        when(pmod(col("id"), lit(1L)) === 0L, "g").otherwise("x")
          .as("g"),
        pmod(col("id") * 2654435761L, lit(1000000L)).as("v"),
        col("id").as("t"))
      Bench.force(graft.operators.Stats.madByGroup(rows, "g", "v", "t"))
    }
    spark.catalog.clearCache()
    timed("trimmed_mean_5m_escalated") {
      // round 16: the SAME 5M dominant group forced through the
      // two-phase distributed rank (escalateGroupRows below the group
      // size) — proves the auto-escalation path bounds task time: the
      // range exchange spreads the group across partitions, offsets
      // broadcast. Compare against trimmed_mean_5m_dominant_group
      // (single-task window sort).
      // ONE dominant group, through a non-foldable expression: a
      // literal group key would constant-fold the equi-joins away
      // (cartesian) — a probe artifact no real column has
      val rows = spark.range(5000000L).select(
        when(pmod(col("id"), lit(1L)) === 0L, "g").otherwise("x")
          .as("g"),
        pmod(col("id") * 2654435761L, lit(1000000L)).as("v"),
        col("id").as("t"))
      Bench.force(graft.operators.Stats.trimmedMeanByGroup(rows, "g", "v",
        "t", escalateGroupRows = 500000L))
    }
    spark.catalog.clearCache()
    timed("median_mad_5m_escalated") {
      // round 16: both MAD rank passes through the escalated two-phase
      // path on the 5M dominant group
      // ONE dominant group, through a non-foldable expression: a
      // literal group key would constant-fold the equi-joins away
      // (cartesian) — a probe artifact no real column has
      val rows = spark.range(5000000L).select(
        when(pmod(col("id"), lit(1L)) === 0L, "g").otherwise("x")
          .as("g"),
        pmod(col("id") * 2654435761L, lit(1000000L)).as("v"),
        col("id").as("t"))
      Bench.force(graft.operators.Stats.madByGroup(rows, "g", "v", "t",
        escalateGroupRows = 500000L))
    }
    spark.catalog.clearCache()
    timed("conformal_coverage_5m_cal") {
      // 5M calibration rows + 5M
      // eval rows, scores quantized to 100k distinct values — the rank
      // runs over the PERSISTED bounded score grid (<= 100k rows), not
      // the 5M raw rows; the corpus contributes only map-side-combined
      // counts
      val cal = spark.range(5000000L).select(
        pmod(col("id") * 2654435761L, lit(100000L)).as("score"))
      val ev = spark.range(5000000L).select(
        pmod(col("id") * 40503L + 7L, lit(100000L)).as("score"))
      Bench.force(graft.operators.LabelQaOps.conformalCoverage(cal, ev,
        "score", alphaPermille = 100))
    }
    spark.catalog.clearCache()
    timed("inbreeding_f_5m_dominant_contig") {
      // 5M genotype rows where ONE
      // contig-like hot site holds 20% of all rows — the AF join-back
      // keys on site, so the hot site's rows hash to ONE reducer side
      // but the join is still row-parallel (no window, no sort); the
      // per-sample census map-side combines
      val rows = spark.range(5000000L).select(
        when(col("id") % 5L === 0L, lit(0L))
          .otherwise(pmod(col("id") * 2654435761L, lit(500000L)))
          .as("site"),
        concat(lit("s"), pmod(col("id"), lit(1000L)).cast("string"))
          .as("sample_id"),
        pmod(col("id") * 48271L, lit(3L)).cast("int").as("gt"))
      Bench.force(graft.operators.VariantQc.inbreedingF(rows, "sample_id",
        "site", "gt"))
    }
    spark.catalog.clearCache()
    timed("confident_learning_5m_hot_cell") {
      // 5M labeled rows where ONE
      // (given, predicted) cell holds 30% of the mass — thresholds are
      // a bounded per-class grid joined back BROADCAST, the cell census
      // map-side combines; no skew amplification
      val rows = spark.range(5000000L).select(
        when(col("id") % 10L < 3L, lit("hot"))
          .otherwise(concat(lit("c"), pmod(col("id"), lit(40L))
            .cast("string"))).as("given"),
        when(col("id") % 10L < 3L, lit("hot"))
          .otherwise(concat(lit("c"), pmod(col("id") * 7L, lit(40L))
            .cast("string"))).as("pred"),
        pmod(col("id") * 2654435761L, lit(1001L)).as("conf"))
      Bench.force(graft.operators.LabelQaOps.confidentLearningGrid(rows,
        "given", "pred", "conf"))
    }
    // ---- IVF recall probe: the approximate top-k's recall at scale ----
    // 1M synthetic 32-dim vectors in 20 soft clusters + noise; 40 query
    // vectors drawn from the same process. recall@10 of ivfTopKAgainst
    // vs the exact brute-force top-10 for nProbe x nCentroids.
    if (only.isEmpty || only.exists("ivf_recall".contains)) {
      import org.apache.spark.sql.DataFrame
      val dim = 32
      val mkVec = udf { (id: Long) =>
        // deterministic: cluster center from id%20, jitter from splitmix
        val c = (id % 20L).toInt
        val out = new Array[Float](dim)
        var j = 0
        var h = id * 0x9E3779B97F4A7C15L
        while (j < dim) {
          h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
          val jitter = ((h >>> 11).toDouble / (1L << 53).toDouble) - 0.5
          val center = math.sin((c * dim + j).toDouble) // fixed per cluster
          out(j) = (center + 0.35 * jitter).toFloat
          j += 1
        }
        out.toSeq
      }
      val corpusV = spark.range(1000000L)
        .select(col("id"), mkVec(col("id")).as("vec"))
      val corpusPath = s"$work/ivf_corpus_1m.parquet"
      if (fresh(corpusPath))
        corpusV.repartition(64).write.mode("overwrite").parquet(corpusPath)
      val corpus = Tables.readParquet(spark, corpusPath)
      val queriesV = spark.range(40L)
        .select((col("id") + 7L).as("qid"),
          mkVec(col("id") * 104729L + 13L).as("qvec"))
      val exact = graft.operators.SimilarityOps
        .bruteForceTopK(queriesV, corpus, k = 10)
        .select(col("qid"), col("id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }
      for (nc <- Seq(64, 256)) {
        val cents = graft.operators.SimilarityOps
          .ivfCentroids(corpus, nCentroids = nc)
        val assigned = graft.operators.SimilarityOps
          .ivfAssignments(corpus, cents)
        val aPath = s"$work/ivf_assigned_1m_$nc.parquet"
        if (fresh(aPath))
          assigned.write.mode("overwrite").parquet(aPath)
        val idx = Tables.readParquet(spark, aPath)
        for (np <- Seq(1, 2, 4, 8, 16)) {
          val t0 = System.nanoTime()
          val got = graft.operators.SimilarityOps
            .ivfTopKAgainst(queriesV, idx, cents, k = 10, nProbe = np)
            .select(col("qid"), col("id")).collect()
            .groupBy(_.getLong(0)).map { case (q, rs) =>
              q -> rs.map(_.getLong(1)).toSet }
          val sec = (System.nanoTime() - t0) / 1e9
          val recalls = exact.map { case (q, ex) =>
            got.get(q).map(g => (g & ex).size.toDouble / ex.size)
              .getOrElse(0.0) }
          val mean = recalls.sum / recalls.size
          println(f"""{"probe":"ivf_recall_1m","nCentroids":$nc,"nProbe":$np,"recall_at_10":$mean%.4f,"sec":$sec%.2f}""")
        }
      }
    }

    // ---- co-occurrence hot-node skew probe ----
    // The single-exchange coOccurrenceEdges dedups (src, dst) pairs on
    // a HashPartitioning(src) exchange: a celebrity node's whole pair
    // fan-in lands in ONE aggregation task (AQE skew-split does not apply
    // to aggregates). Probe: a uniform market-basket incidence (~sf1
    // scale: 500k baskets x 6 items over 20k items, uniform node degree
    // ~900 pairs) vs the same incidence plus one hot item present in 80%
    // of baskets (pair fan-in ~2.4M — >2,500x the uniform degree). If the
    // hot run's wall time grows far beyond its +11% row-volume share, the
    // single-task dedup dominates and the operator needs a salted
    // two-phase dedup; if it tracks volume, the documented per-node-degree
    // bound holds (downstream groupBy(src) consumers carry the same
    // bound either way).
    if (only.isEmpty || only.exists(s =>
      "cooc_edges_uniform".contains(s) || "cooc_edges_hotnode".contains(s))) {
      val incPath = s"$work/cooc_incidence.parquet"
      // item = hash(id): a LINEAR map would collapse every basket to one
      // item (basket stride 500000 is a multiple of the 20000-item space)
      if (fresh(incPath)) spark.range(3000000L).select(
          (col("id") % 500000L).as("order"),
          pmod(xxhash64(col("id")), lit(20000L)).as("item"))
        .repartition(64).write.mode("overwrite").parquet(incPath)
      val inc = Tables.readParquet(spark, incPath)
      val hotPath = s"$work/cooc_incidence_hot.parquet"
      if (fresh(hotPath)) Tables.readParquet(spark, incPath).unionAll(
          spark.range(400000L).select((col("id")).as("order"),
            lit(99999L).as("item")))
        .repartition(64).write.mode("overwrite").parquet(hotPath)
      val hotInc = Tables.readParquet(spark, hotPath)
      timed("cooc_edges_uniform") {
        graft.operators.GraphOps
          .coOccurrenceEdges(inc, "order", "item").count()
      }
      timed("cooc_edges_hotnode") {
        graft.operators.GraphOps
          .coOccurrenceEdges(hotInc, "order", "item").count()
      }
    }
    spark.stop()
  }
}
