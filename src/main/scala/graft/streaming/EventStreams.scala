package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.{ScratchColumns, TextOps}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.10: absent in the reference —
  * green-field extension §7 step 10). The batch twins live in
  * [[graft.operators.Sessionize]] / the q14/q15 queries; these are the
  * `readStream` → watermark → window/state → `writeStream` versions.
  *
  * Scale notes: watermark bounds state; tumbling/sliding windows are
  * partial-aggregated before the shuffle; session state is per-key and
  * evicted on timeout — no unbounded driver or executor growth.
  */
object EventStreams {

  /** Tumbling-window aggregation with a watermark:
    * count + sum(value) per (window, event_type). */
  def tumblingCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming exact deduplication: normalized-text fingerprint +
    * watermark-bounded `dropDuplicates` — the streaming twin of
    * `DedupOps.dropExactDuplicates` for continuous ingestion pipelines.
    * State is keyed by the 128-bit fingerprint and evicted once the
    * watermark passes (`dropDuplicatesWithinWatermark`), so a 24/7 ingest
    * at 100 TB/day holds only the watermark window's fingerprints, not
    * the corpus's. */
  def dedupDocuments(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val Seq(fp) = ScratchColumns.fresh(docs, "__fp")
    docs
      .withColumn(fp, TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  /** Streaming near-duplicate flagging against a STATIC MinHash index
    * (from [[graft.operators.DedupOps.minhashSignatures]], e.g. loaded
    * from parquet): each micro-batch signs its own documents and probes
    * the banded index via a stream-static inner join — natively supported
    * by Structured Streaming and STATELESS on the stream side (no
    * watermark state grows with the corpus; the index is the only big
    * thing and it lives in the static plan). Emits
    * (incoming columns minus text, corpus_id, est_jaccard) for documents
    * whose estimated Jaccard vs some indexed doc reaches `threshold`.
    *
    * Multi-band hits are collapsed WITHOUT streaming aggregation: a pair
    * is emitted only from its smallest agreeing band (both signatures are
    * in hand at the join site), so the output needs no watermark or
    * dropDuplicates state. */
  def flagNearDuplicates(
      docs: DataFrame,
      index: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 128,
      shingleN: Int = 3,
      bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // true iff no band before `band` also agrees -> exactly-once per pair
    val firstAgreeingBand = udf { (x: Seq[Long], y: Seq[Long], band: Int) =>
      var b = 0
      var earlier = false
      while (!earlier && b < band) {
        var i = b * rows
        val end = i + rows
        var eq = true
        while (eq && i < end) { eq = x(i) == y(i); i += 1 }
        earlier = eq
        b += 1
      }
      !earlier
    }
    val streamBanded = graft.operators.DedupOps.bandedSignatures(
      docs.select(col("*"),
        graft.operators.DedupOps.minhashSignature(numHashes, shingleN)(
          col(textCol)).as("sig"))
        .withColumnRenamed(idCol, "id").drop(textCol),
      numHashes, bands)
    val idxBanded = graft.operators.DedupOps.bandedSignatures(index, numHashes, bands)
      .select(col("id").as("corpus_id"), col("sig").as("sig_idx"),
        col("band").as("band_idx"), col("bandHash").as("bh_idx"))
    streamBanded.join(idxBanded,
        col("bandHash") === col("bh_idx") && col("band") === col("band_idx") &&
          col("id") =!= col("corpus_id"))
      .filter(firstAgreeingBand(col("sig"), col("sig_idx"), col("band")))
      .withColumn("est_jaccard",
        graft.operators.DedupOps.agreeUdf(col("sig"), col("sig_idx"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .withColumnRenamed("id", idCol)
      .drop("sig", "sig_idx", "band", "bandHash", "band_idx", "bh_idx")
  }

  /** Sliding-window variant. */
  def slidingCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      slide: String = "15 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Gap-based session windows via the built-in session_window — the
    * streaming twin of Sessionize.sessions (and of the reference's batch
    * CoverageDataset.collapse run-length pattern, CoverageDataset.scala:300). */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  // ------------------- custom state: per-user running stats ---------------

  case class UserEvent(user_id: Long, tsMillis: Long, value: Double)
  case class UserState(nEvents: Long, sumValue: Double, lastTsMillis: Long)
  case class UserUpdate(user_id: Long, nEvents: Long, sumValue: Double)

  case class TypedEvent(user_id: Long, event_type: String, tsMillis: Long)
  case class FunnelState(stageTimes: List[Long])
  case class FunnelAdvance(
    user_id: Long, stage: Int, step: String, tsMillis: Long)

  /** Streaming twin of [[graft.operators.Sessionize.funnelStages]]: a
    * per-key stage machine in `flatMapGroupsWithState` — a key advances to
    * stage i+1 at the first `steps(i+1)` event STRICTLY after its stage-i
    * time (within `maxGapMs` when set), emitting one [[FunnelAdvance]] per
    * advance as it happens. State per key is just the completed stage
    * times (≤ |steps| longs).
    *
    * Events are folded in (ts, type) order WITHIN each micro-batch;
    * cross-batch late events cannot retroactively rewrite stages (the
    * standard streaming caveat — the batch operator is the exact
    * formulation, and the spec proves agreement for in-order feeds). */
  def funnelProgress(
      events: Dataset[TypedEvent], steps: Seq[String],
      maxGapMs: Option[Long] = None): Dataset[FunnelAdvance] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[TypedEvent],
         state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.stageTimes).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
          batch.toSeq.sortBy(e => (e.tsMillis, e.event_type)).foreach { e =>
            val stage = times.length
            if (stage < steps.length && e.event_type == steps(stage)) {
              val afterPrev = times.isEmpty ||
                (e.tsMillis > times.last &&
                  maxGapMs.forall(g => e.tsMillis <= times.last + g))
              if (afterPrev) {
                times = times :+ e.tsMillis
                out += FunnelAdvance(userId, times.length,
                  steps(stage), e.tsMillis)
              }
            }
          }
          state.update(FunnelState(times))
          out.iterator
      }
  }

  // ------------------- custom state: streaming as-of carry ----------------

  /** One tagged row of the as-of stream: left rows ask "latest right at or
    * before me", right rows update the carry. Same union-marker shape as
    * the batch operator's internal union. */
  case class AsofEvent(
    user_id: Long, isLeft: Boolean, tsMillis: Long, event_id: Long,
    value: Double)
  case class AsofCarry(tsMillis: Long, event_id: Long, value: Double)
  case class AsofMatch(
    user_id: Long, purchase_id: Long, tsMillis: Long,
    view_id: Option[Long], view_tsMillis: Option[Long],
    view_value: Option[Double])

  /** Streaming twin of [[graft.operators.Sessionize.asofJoin]]: per-key
    * state is ONE [[AsofCarry]] — the greatest-(ts, event_id) right row
    * seen so far — and each left row emits the carry at its position.
    * Rows are folded in (ts, side, event_id) order WITHIN each
    * micro-batch, right before left at equal ts, so an exactly-
    * simultaneous right row IS matched — the same ordering the batch
    * window uses (`__isL` ascending with right = 0).
    *
    * Same streaming caveat as [[funnelProgress]]: a cross-batch late right
    * row cannot retroactively rewrite already-emitted matches; the batch
    * operator is the exact formulation and the spec proves agreement for
    * in-order feeds on the driver events fixture. State per key is one
    * 24-byte struct — bounded regardless of stream length. */
  def asofCarry(events: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofCarry, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[AsofEvent],
         state: GroupState[AsofCarry]) =>
          var carry = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofMatch]
          batch.toSeq
            .sortBy(e => (e.tsMillis, if (e.isLeft) 1 else 0, e.event_id))
            .foreach { e =>
              if (e.isLeft)
                out += AsofMatch(userId, e.event_id, e.tsMillis,
                  carry.map(_.event_id), carry.map(_.tsMillis),
                  carry.map(_.value))
              else if (carry.forall(c => e.tsMillis > c.tsMillis ||
                (e.tsMillis == c.tsMillis && e.event_id >= c.event_id)))
                carry = Some(AsofCarry(e.tsMillis, e.event_id, e.value))
            }
          carry.foreach(state.update)
          out.iterator
      }
  }

  case class SeqEvent(
      user_id: Long, event_id: Long, event_type: String, tsMillis: Long)
  case class LastSeen(tsMillis: Long, event_id: Long, event_type: String)
  case class TransitionObs(user_id: Long, from_type: String, to_type: String)

  /** Streaming twin of [[graft.operators.Sessionize.eventTransitions]]:
    * per-user last-event state carried across micro-batches; every arriving
    * event emits its `(from_type, to_type)` observation against the carried
    * predecessor (ordered inside each batch by `(tsMillis, event_id)` —
    * same total order as the batch window). Downstream, a streaming
    * `groupBy(from,to).count` (or the caller's sink) accumulates the
    * transition matrix. Same cross-batch ordering contract as
    * [[asofCarry]]: events later than the carried state advance it; an
    * out-of-order event older than the carry is scored against the carry
    * (late data needs an upstream watermark sort to be exact). State is one
    * tiny record per user. */
  def transitionCarry(events: Dataset[SeqEvent]): Dataset[TransitionObs] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, TransitionObs](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[SeqEvent],
         state: GroupState[LastSeen]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[TransitionObs]
          batch.toSeq
            .sortBy(e => (e.tsMillis, e.event_id))
            .foreach { e =>
              last.foreach(l =>
                out += TransitionObs(userId, l.event_type, e.event_type))
              last = Some(LastSeen(e.tsMillis, e.event_id, e.event_type))
            }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class HistoryExample(
      user_id: Long, event_id: Long, history: String, label: String)
  case class HistoryCarry(recent: List[String])

  /** Streaming twin of [[graft.operators.Sessionize.nextEventExamples]]:
    * per-user ring of the last `historyLen` event types carried across
    * micro-batches; every arriving event emits its ('>'-joined history,
    * label) training example and pushes its own type into the carry.
    * Ordered inside each batch by `(tsMillis, event_id)` — the same total
    * order as the batch window — with the [[transitionCarry]] cross-batch
    * contract (late data needs an upstream watermark sort to be exact).
    * State per user is the constant-length type list, nothing else. */
  def historyCarry(
      events: Dataset[SeqEvent], historyLen: Int): Dataset[HistoryExample] = {
    import events.sparkSession.implicits._
    require(historyLen > 0, s"historyLen must be positive: $historyLen")
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[HistoryCarry, HistoryExample](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[SeqEvent],
         state: GroupState[HistoryCarry]) =>
          var recent = state.getOption.map(_.recent).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[HistoryExample]
          batch.toSeq
            .sortBy(e => (e.tsMillis, e.event_id))
            .foreach { e =>
              out += HistoryExample(
                userId, e.event_id, recent.mkString(">"), e.event_type)
              recent = (recent :+ e.event_type).takeRight(historyLen)
            }
          state.update(HistoryCarry(recent))
          out.iterator
      }
  }

  /** flatMapGroupsWithState example operator: running per-user totals —
    * the KeyValueGroupedDataset custom-state capability (SURVEY.md §7
    * streaming bullet). Pass `evictAfter=Some(duration)` to bound state via
    * processing-time timeout in production streams. */
  def runningUserTotals(
      events: Dataset[UserEvent],
      evictAfter: Option[String] = None): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserUpdate(userId, s.nEvents, s.sumValue))
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0.0, 0L))
            val evs = batch.toSeq
            val next = UserState(
              prev.nEvents + evs.length,
              prev.sumValue + evs.map(_.value).sum,
              math.max(prev.lastTsMillis, if (evs.isEmpty) 0L else evs.map(_.tsMillis).max))
            state.update(next)
            evictAfter.foreach(state.setTimeoutDuration)
            Iterator(UserUpdate(userId, next.nEvents, next.sumValue))
          }
      }
  }

  /** STREAM-STREAM interval join with dual watermarks — the ad-attribution
    * shape: every `right` event joins the `left` events of the same key
    * that happened within `[left.ts, left.ts + maxGap]` before it.
    * Both sides are watermarked, and the time-range predicate gives
    * Structured Streaming the state-expiry bound it needs: left rows are
    * dropped once `left.ts + maxGap` falls behind the right watermark —
    * state is O(key-rate x maxGap), not unbounded. Columns are prefixed
    * `l_`/`r_` so arbitrary schemas compose. The batch twin is the same
    * join expression on static frames (proven equal in StreamingSpec). */
  def intervalJoin(
      left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      maxGap: String = "30 minutes",
      watermarkDelay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))
    val l = prefixed(left, "l_").withWatermark(s"l_$tsCol", watermarkDelay)
    val r = prefixed(right, "r_").withWatermark(s"r_$tsCol", watermarkDelay)
    // left_outer additionally emits never-matched left rows (nulls on the
    // right) once the watermark proves no match can still arrive — the
    // "un-attributed impressions" stream
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $maxGap"),
      joinType)
  }

  /** Streaming count-min sketch: the depth x width grid maintained as a
    * plain streaming aggregation. The sketch IS the state — at most
    * depth*width rows forever, no watermark needed, and because the grid
    * merges associatively the micro-batch partial aggregation is exactly
    * the batch map-side combine. Drained over the same rows it equals
    * [[graft.operators.SketchOps.countMinCells]] cell-for-cell (proven in
    * StreamingSpec). Run in update/complete output mode. */
  def streamingCountMin(
      docs: DataFrame, textCol: String = "text",
      depth: Int = 4, width: Int = 1024): DataFrame =
    docs
      .select(explode(TextOps.alnumWords(col(textCol))).as("token"))
      .select(posexplode(
        graft.operators.SketchOps.cmsBucketsUdf(depth, width)(col("token")))
        .as(Seq("i", "bucket")))
      .groupBy("i", "bucket")
      .agg(count(lit(1)).as("cell"))

  /** Streaming per-group equi-width histogram: the same constant
    * groups x (bins+2) cell grid as
    * [[graft.operators.SketchOps.histogramSketch]], maintained as a plain
    * streaming aggregation (counts add — the canonical mergeable reduce),
    * so the micro-batch partial agg IS the batch map-side combine.
    * Drained over the same rows it equals the batch cells exactly
    * (StreamingSpec). Run in update/complete output mode. */
  def streamingHistogram(
      events: DataFrame, groupCol: String, valueCol: String,
      loCents: Long, hiCents: Long, bins: Int): DataFrame =
    events
      .select(col(groupCol),
        graft.operators.SketchOps
          .histogramBin(valueCol, loCents, hiCents, bins).as("bin"))
      .groupBy(groupCol, "bin")
      .agg(count(lit(1)).as("n"))

  /** Stream-side outlier flagging against a BATCH-TRAINED moments table
    * (the index-once/probe-many shape, like the dedup index probes): each
    * streaming row joins the broadcastable per-group (n, s, q) moments and
    * evaluates the exact 128-bit integer z-test — completely STATELESS on
    * the stream (a stream-static inner join + a per-row expression), so
    * state never grows and the flags equal the batch
    * [[graft.operators.Stats.zScoreOutliers]] verdicts row-for-row
    * (StreamingSpec). Output: input columns + (c, is_out). */
  def streamingOutlierFlags(
      events: DataFrame, moments: DataFrame, groupCol: String,
      valueCol: String, kPermille: Long): DataFrame =
    events
      .withColumn("c", floor(col(valueCol) * 100 + 0.5).cast("long"))
      .join(moments, groupCol)
      .withColumn("is_out", graft.operators.Stats.outlierFlag(kPermille))
      .drop("n", "s", "q")

  /** Stream-side Naive Bayes routing against a BATCH-TRAINED
    * [[graft.operators.ClassifierOps.nbTrain]] model (train once, serve
    * streaming — the production classifier-serving shape): the bounded
    * labels x buckets model collects once into a broadcast score table
    * and each streaming document scores with a per-row pass — completely
    * STATELESS, append mode, no stream aggregation (the batch
    * per-document groupBy folds into the row-local token loop). Same
    * integer quanta and (score DESC, label ASC) argmax as the batch
    * classifier, so predictions equal
    * [[graft.operators.ClassifierOps.nbClassify]] row-for-row
    * (StreamingSpec). Output: input columns + (pred_label, score_q). */
  def streamingNbRoute(
      docs: DataFrame, model: DataFrame, textCol: String,
      buckets: Int, alpha: Double = 1.0): DataFrame = {
    val rows = model.collect()
    val labels = rows.filter(_.getLong(1) == -1L).map(_.getString(0)).sorted
    val li = labels.zipWithIndex.toMap
    val nd = new Array[Long](labels.length)
    val tot = new Array[Long](labels.length)
    rows.foreach { r =>
      if (r.getLong(1) == -1L) nd(li(r.getString(0))) = r.getLong(2)
      else tot(li(r.getString(0))) += r.getLong(2)
    }
    def q7(x: Double): Long = math.floor(math.log(x) * 1e7 + 0.5).toLong
    val ab = alpha * buckets
    val nTrain = nd.sum
    val q0 = labels.indices.map(l => q7(alpha / (tot(l) + ab))).toArray
    val priorQ = labels.indices.map(l => q7(nd(l).toDouble / nTrain)).toArray
    // dense (bucket, label) excess-quantum table: bounded state, the
    // lmScoreAgainst broadcast recipe
    val dq = Array.ofDim[Long](buckets, labels.length)
    rows.foreach { r =>
      val b = r.getLong(1)
      if (b >= 0) {
        val l = li(r.getString(0))
        dq(b.toInt)(l) = q7((r.getLong(2) + alpha) / (tot(l) + ab)) - q0(l)
      }
    }
    val spark = docs.sparkSession
    val labB = spark.sparkContext.broadcast((labels, q0, priorQ, dq))
    val m = buckets.toLong
    val scoreU = udf { text: String =>
      val (ls, q0s, ps, dqs) = labB.value
      val ts = (if (text == null) "" else text)
        .toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      var bi = 0; var bs = Long.MinValue
      var l = 0
      while (l < ls.length) {
        var s = ps(l) + ts.length * q0s(l)
        var i = 0
        while (i < ts.length) {
          val h = graft.operators.DedupOps.fnv1a64(ts(i))
          s += dqs((((h % m) + m) % m).toInt)(l)
          i += 1
        }
        if (s > bs) { bs = s; bi = l } // labels sorted asc: first max wins
        l += 1
      }
      (ls(bi), bs)
    }
    val Seq(nb) = ScratchColumns.fresh(docs, "__nb")
    docs.withColumn(nb, scoreU(col(textCol)))
      .withColumn("pred_label", col(s"$nb._1"))
      .withColumn("score_q", col(s"$nb._2"))
      .drop(nb)
  }

  /** Streaming HyperLogLog registers: max(rho) per register as a streaming
    * aggregation — at most 2^p state rows forever (max is the canonical
    * mergeable-sketch reduce). Equals
    * [[graft.operators.SketchOps.hllRegisters]]' (reg, mrho) projection
    * when drained over the same rows; feed the result to the batch
    * summary formula for the live distinct estimate. */
  def streamingHllRegisters(
      docs: DataFrame, textCol: String = "text", p: Int = 10): DataFrame =
    docs
      .select(explode(TextOps.alnumWords(col(textCol))).as("token"))
      .select(graft.operators.SketchOps.hllRegUdf(p)(col("token")).as("rr"))
      .select(col("rr._1").as("reg"), col("rr._2").as("rho"))
      .groupBy("reg")
      .agg(max("rho").as("mrho"))

  /** Streaming k-anonymity monitor (phase 1): equivalence-class sizes
    * over the quasi-identifier columns as a complete/update-mode
    * aggregation — counts add, so the micro-batch partial agg IS the
    * batch map-side combine, and the state is one row per observed
    * class. Spark forbids a second chained streaming aggregation, so
    * fold each drained snapshot through
    * [[graft.operators.PrivacyOps.summarizeClassSizes]] for the one-row
    * report; drained over the same rows that equals the batch
    * [[graft.operators.PrivacyOps.kAnonymityReport]] exactly
    * (StreamingSpec). */
  def streamingKClassSizes(events: DataFrame,
      quasiCols: Seq[String]): DataFrame =
    graft.operators.PrivacyOps.classSizes(events, quasiCols)

  /** Streaming FK orphan-rate monitor: the exact
    * [[graft.operators.ProfileOps.fkAudit]] plan with a STREAMING child —
    * a stream-static left join on the two key projections (the static
    * distinct parent side broadcasts) followed by ONE mergeable
    * aggregation, run in complete mode. Stateless join + one summary row
    * of state forever; drained over the same rows it equals the batch
    * audit row exactly (StreamingSpec). */
  def streamingFkAudit(child: DataFrame, parent: DataFrame,
      childKey: String, parentKey: String): DataFrame =
    graft.operators.ProfileOps.fkAudit(child, parent, childKey, parentKey)

  /** Streaming PSI drift monitor (count phase): per-bucket counts of the
    * CURRENT stream as a complete-mode aggregation (counts add — one row
    * of state per observed bucket forever). Fold each drained snapshot
    * with the static reference through
    * [[graft.operators.CorpusCompareOps.psiFromCounts]] for the live PSI
    * report; drained over the same rows that equals the batch
    * [[graft.operators.CorpusCompareOps.psiReport]] exactly
    * (StreamingSpec). */
  def streamingPsiCounts(cur: DataFrame, bucketCol: String): DataFrame =
    cur.groupBy(col(bucketCol).as("b"))
      .agg(count(lit(1)).as("n_cur"))

  /** Streaming OOV monitor (count phase): per-(source, term) token
    * counts of a document stream as a complete-mode aggregation — the
    * exact streaming twin of
    * [[graft.operators.TokenizerOps.termCounts]] (counts add; the
    * micro-batch partial agg IS the batch map-side combine). Fold each
    * drained snapshot with the static tokenizer vocabulary through
    * [[graft.operators.TokenizerOps.oovFromCounts]] for the live
    * coverage report; drained over the same rows it equals the batch
    * [[graft.operators.TokenizerOps.oovRate]] exactly (StreamingSpec). */
  def streamingTermCounts(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    // ONE definition of the count phase (the batch operator's) — a
    // duplicated body here could silently diverge from the batch
    // tokenization and break the drained == batch equivalence
    graft.operators.TokenizerOps.termCounts(docs, textCol, sourceCol)

  /** Streaming twin of
    * [[graft.operators.Sessionize.burstActivityReport]] (count phase):
    * per-(key, bucket) event counts as a complete-mode aggregation —
    * counts add, so the micro-batch partial agg IS the batch map-side
    * combine and state is one row per observed (key, bucket). Fold each
    * drained snapshot through
    * [[graft.operators.Sessionize.burstFromBucketCounts]] for the live
    * bot flags or
    * [[graft.operators.Sessionize.cusumFromBucketCounts]] for the live
    * level-shift estimates; drained over the same rows each equals its
    * batch report exactly (StreamingSpec). `tsCol` must be TIMESTAMP. */
  def streamingBucketCounts(events: DataFrame, keyCol: String,
      tsCol: String, bucketMs: Long): DataFrame =
    graft.operators.Sessionize.bucketCounts(events, keyCol, tsCol,
      bucketMs)

  /** Streaming twin of [[graft.operators.Stats.ksDrift]] (grid phase):
    * the (value, n_ref, n_cur) CDF grid as a complete-mode aggregation —
    * counts add, so the micro-batch partial agg IS the batch map-side
    * combine and state is one row per distinct (quantized) value. Spark
    * forbids chaining the running-sum windows onto a streaming
    * aggregation, so fold each drained snapshot through
    * [[graft.operators.Stats.ksFromCounts]] for the live drift
    * statistic; drained over the same rows it equals the batch report
    * exactly (StreamingSpec). */
  def streamingKsCounts(events: DataFrame, sideCol: String,
      valueCol: String): DataFrame =
    graft.operators.Stats.ksCounts(events, sideCol, valueCol)

  /** Streaming twin of [[graft.operators.Stats.entropyByGroup]] (grid
    * phase): per-(group, value) counts as complete-mode state — counts
    * add, so the micro-batch partial agg IS the batch combine. Spark
    * forbids chaining the totals window onto a streaming aggregation,
    * so fold each drained snapshot through
    * [[graft.operators.Stats.entropyFromCounts]] for the live
    * behavioral-diversity scores; drained over the same rows it equals
    * the batch report exactly (StreamingSpec). */
  def streamingCategoryCounts(events: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    graft.operators.Stats.categoryCounts(events, groupCol, valueCol)

  /** Streaming twin of [[graft.operators.VariantQc.tstvRatio]] (grid
    * phase): the (group, ts/tv/other, count) census as complete-mode
    * state — counts add, so the micro-batch partial agg IS the batch
    * combine. Fold each drained snapshot through
    * [[graft.operators.VariantQc.tstvFromCounts]] for the live Ts/Tv
    * monitor; drained over the same rows it equals the batch report
    * exactly (StreamingSpec). */
  def streamingTstvCounts(variants: DataFrame, groupCol: String,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele"): DataFrame =
    graft.operators.VariantQc.tstvCounts(variants, groupCol, refCol,
      altCol)

  /** Streaming twin of
    * [[graft.operators.VariantQc.alleleFrequencySpectrum]] (grid
    * phase): per-bin site counts as complete-mode state. Fold each
    * drained snapshot through
    * [[graft.operators.VariantQc.afsFromCounts]]; drained over the same
    * rows it equals the batch spectrum exactly (StreamingSpec). */
  def streamingAfsCounts(variants: DataFrame, acCol: String,
      anCol: String, bins: Int = 20): DataFrame =
    graft.operators.VariantQc.afsCounts(variants, acCol, anCol, bins)

  /** Streaming twin of
    * [[graft.operators.VariantQc.mendelianViolations]] (grid phase):
    * the bounded 27-row trio census as complete-mode state. Fold each
    * drained snapshot through
    * [[graft.operators.VariantQc.mendelianFromCounts]]; drained over
    * the same rows it equals the batch census exactly (StreamingSpec). */
  def streamingMendelianCounts(trios: DataFrame, fatherCol: String,
      motherCol: String, childCol: String): DataFrame =
    graft.operators.VariantQc.mendelianCounts(trios, fatherCol,
      motherCol, childCol)

  /** Streaming twin of
    * [[graft.operators.VariantQc.substitutionMatrix]] (grid phase):
    * the bounded 12-cell (ref > alt) census as complete-mode state.
    * Fold each drained snapshot through
    * [[graft.operators.VariantQc.substitutionFromCounts]]; drained
    * over the same rows it equals the batch census exactly
    * (StreamingSpec). */
  def streamingSubstitutionCounts(variants: DataFrame,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele"): DataFrame =
    graft.operators.VariantQc.substitutionCounts(variants, refCol,
      altCol)

  /** Streaming twin of
    * [[graft.operators.VariantQc.indelLengthSpectrum]] (grid phase):
    * the bounded (≤ 2·maxAbsLen+1)-row length census as complete-mode
    * state. Fold each drained snapshot through
    * [[graft.operators.VariantQc.indelFromCounts]]; drained over the
    * same rows it equals the batch spectrum exactly (StreamingSpec). */
  def streamingIndelCounts(variants: DataFrame,
      refCol: String = "referenceAllele",
      altCol: String = "alternateAllele",
      maxAbsLen: Int = 20): DataFrame =
    graft.operators.VariantQc.indelCounts(variants, refCol, altCol,
      maxAbsLen)

  /** Streaming twin of [[graft.operators.VariantQc.callRate]] (grid
    * phase): the (sample, class) census as complete-mode state. Fold
    * each drained snapshot through
    * [[graft.operators.VariantQc.callRateFromCounts]]; drained over
    * the same rows it equals the batch census exactly
    * (StreamingSpec). */
  def streamingCallRateCounts(genotypes: DataFrame, sampleCol: String,
      gtCol: String): DataFrame =
    graft.operators.VariantQc.callRateCounts(genotypes, sampleCol,
      gtCol)

  /** Streaming twin of [[graft.operators.LabelQaOps.calibrationBins]]
    * (grid phase): per-bin (n, Σconf, n_correct) sums as complete-mode
    * state — sums add, so the micro-batch partial agg IS the batch
    * combine. Fold each drained snapshot through
    * [[graft.operators.LabelQaOps.calibrationFromCounts]] for the live
    * reliability/ECE monitor; drained over the same rows it equals the
    * batch report exactly (StreamingSpec). */
  def streamingCalibrationCounts(df: DataFrame, confPermilleCol: String,
      correctCol: String, bins: Int = 10): DataFrame =
    graft.operators.LabelQaOps.calibrationCounts(df, confPermilleCol,
      correctCol, bins)

  /** Streaming twin of
    * [[graft.operators.TimeSeriesOps.seasonalProfile]] (grid phase):
    * the (key, dow, hour) slot census as complete-mode state — counts
    * add, so the micro-batch partial agg IS the batch combine. Spark
    * forbids chaining the key/slot-total windows onto a streaming
    * aggregation, so fold each drained snapshot through
    * [[graft.operators.TimeSeriesOps.seasonalFromCounts]] for the live
    * seasonality monitor; drained over the same rows it equals the
    * batch profile exactly (StreamingSpec). `tsCol` must be TIMESTAMP. */
  def streamingSeasonalSlotCounts(events: DataFrame, keyCol: String,
      tsCol: String = "ts"): DataFrame =
    graft.operators.TimeSeriesOps.seasonalSlotCounts(events, keyCol,
      tsCol)

  /** Streaming twin of [[graft.operators.Stats.volumeAnomalies]] (count
    * phase): per-(group, day) event counts as a complete-mode
    * aggregation — counts add, so the micro-batch partial agg IS the
    * batch map-side combine and the state is one row per observed
    * (group, day) forever. Spark forbids chaining the trailing-window
    * z-test onto a streaming aggregation, so fold each drained snapshot
    * through the batch operator for the live anomaly flags; drained over
    * the same rows that equals the batch report exactly (StreamingSpec).
    * `tsCol` must be a TIMESTAMP column (project `timestamp_millis` in
    * front for epoch-long feeds). */
  def streamingDailyCounts(events: DataFrame, groupCol: String,
      tsCol: String = "ts"): DataFrame =
    events
      .groupBy(col(groupCol),
        expr(s"unix_millis(`$tsCol`) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"))

  case class GapObs(
      user_id: Long, event_id: Long, event_type: String, gap_ms: Long)

  /** Streaming twin of [[graft.operators.Sessionize.interArrivalStats]]
    * (gap phase): per-key last-seen state carried across micro-batches;
    * every arriving event with a predecessor emits its millisecond gap,
    * attributed to the LATER event's type (the batch contract). Ordered
    * inside each batch by `(tsMillis, event_id)` — the batch window's
    * total order — with the [[asofCarry]] cross-batch late-data contract
    * (an event older than the carry scores against the carry; exactness
    * under late data needs an upstream watermark sort). Fold the drained
    * gaps through [[graft.operators.Quantiles.discPercentiles]] for the
    * live cadence profile; drained over the same rows that equals the
    * batch operator exactly (StreamingSpec). State per key: one
    * (ts, id, type) record, nothing else. */
  case class KeyedSighting(key: String, tsMillis: Long, event_id: Long)
  case class HorizonSt(lastMillis: Long, epoch: Long)
  case class HorizonObs(
      key: String, event_id: Long, fresh: Boolean, epoch: Long)

  /** Streaming twin of [[graft.operators.DedupOps.horizonDedup]] with the
    * batch operator's EXACT chained semantics: a sighting is fresh iff it
    * arrives more than `horizonMs` after the PREVIOUS sighting of its key
    * (each sighting refreshes the window), and `epoch` is the cumulative
    * 0-based freshness-run index. Per-key state is one (lastMillis,
    * epoch) pair — 16 bytes regardless of stream length.
    *
    * Why not `dropDuplicatesWithinWatermark`? The built-in is the right
    * tool for plain streaming dedup (and [[dedupDocuments]] uses it), but
    * its contract is different on exactly the axis horizonDedup cares
    * about: it guarantees dedup only while earliest-to-latest duplicate
    * distance stays under the delay (state expiry anchors at the FIRST
    * sighting, not the previous one), eviction timing additionally
    * depends on watermark progress, and it emits survivors only — no
    * fresh/epoch labeling of the duplicates. A chained-gap recrawl
    * timeline (t0, t0+0.8h, t0+1.6h at a 1 h horizon) is ONE epoch here
    * and in the batch operator, but may re-admit t0+1.6h under the
    * built-in once the watermark passes t0+1h. This carry is the exact
    * form; StreamingSpec pins stream == batch on the driver events
    * fixture.
    *
    * Same in-order micro-batch contract as [[asofCarry]]/[[gapCarry]]:
    * rows fold in `(tsMillis, event_id)` order within each batch; a
    * cross-batch late sighting scores against the carried state. */
  def horizonCarry(events: Dataset[KeyedSighting],
      horizonMs: Long): Dataset[HorizonObs] = {
    require(horizonMs > 0, s"horizonMs must be positive: $horizonMs")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[HorizonSt, HorizonObs](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[KeyedSighting],
         state: GroupState[HorizonSt]) =>
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[HorizonObs]
          batch.toSeq
            .sortBy(e => (e.tsMillis, e.event_id))
            .foreach { e =>
              val fresh = st.forall(s => e.tsMillis - s.lastMillis > horizonMs)
              val epoch = st.map(s => if (fresh) s.epoch + 1 else s.epoch)
                .getOrElse(0L)
              out += HorizonObs(key, e.event_id, fresh, epoch)
              st = Some(HorizonSt(e.tsMillis, epoch))
            }
          st.foreach(state.update)
          out.iterator
      }
  }

  def gapCarry(events: Dataset[SeqEvent]): Dataset[GapObs] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, GapObs](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[SeqEvent],
         state: GroupState[LastSeen]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[GapObs]
          batch.toSeq
            .sortBy(e => (e.tsMillis, e.event_id))
            .foreach { e =>
              last.foreach(l => out += GapObs(
                userId, e.event_id, e.event_type, e.tsMillis - l.tsMillis))
              last = Some(LastSeen(e.tsMillis, e.event_id, e.event_type))
            }
          last.foreach(state.update)
          out.iterator
      }
  }
}
