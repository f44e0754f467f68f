package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(ts: Timestamp, event_type: String, user_id: Long, value: Double)

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("tumbling window aggregation over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.tumblingCounts(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try {
      input.addData(
        Ev(ts(1), "click", 1, 1.0), Ev(ts(2), "click", 1, 2.0),
        Ev(ts(11), "click", 2, 3.0), Ev(ts(12), "view", 2, 4.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 10:10:00.0", "click", 1L, 3.0),
        ("2024-01-01 10:10:00.0", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming dedup drops normalized-duplicate docs within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Doc(ts: Timestamp, doc_id: Long, text: String)
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.dedupDocuments(
        input.toDF().toDF("ts", "doc_id", "text"), "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(1), 1L, "Hello  World"),
        (ts(2), 2L, "hello world"), // normalized duplicate of doc 1
        (ts(3), 3L, "something else"),
        (ts(4), 4L, " HELLO   WORLD "), // duplicate again
        (ts(5), 5L, "fifth"))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("gopher quality filter runs stateless on a stream") {
    // the whole rule panel is per-row column expressions, so it must work
    // unchanged as a streaming filter (no state, no watermark needed)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val good = ("the be to of and that have with " * 8).trim + " " +
      Seq.tabulate(20)(i => s"word$i").mkString(" ")
    val q = input.toDF().toDF("doc_id", "text")
      .filter(graft.operators.TextOps.gopherKeep(org.apache.spark.sql
        .functions.col("text")))
      .writeStream.format("memory").queryName("gopherq")
      .outputMode("append").start()
    try {
      input.addData(1L -> good, 2L -> "too short", 3L -> good)
      q.processAllAvailable()
      val ids = spark.table("gopherq").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("DSIR index probe scores a stream exactly like the batch pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pool = ((0L until 10L).map(i => (i, "alpha beta gamma delta " * 3)) ++
      (10L until 30L).map(i => (i, s"kk$i jj$i xx$i ww$i " * 3)))
      .toDF("doc_id", "text")
    val index = graft.operators.SamplingOps.dsirIndex(
      pool, "doc_id", "text", isTarget = col("doc_id") < 10, buckets = 128)
    // round-trip the index through parquet (the production shape)
    val path = tmpDir() + "/dsir_index.parquet"
    index.write.mode("overwrite").parquet(path)
    val loaded = spark.read.parquet(path)

    // probe batch includes a feature the pool never saw (novel bucket)
    val probes = Seq((100L, "alpha beta gamma delta"),
      (101L, "kk11 jj11 xx11"), (102L, "totally novel words qqq"))
    val batch = graft.operators.SamplingOps.dsirScoreAgainst(
        probes.toDF("doc_id", "text"), loaded, "text", buckets = 128)
      .select("doc_id", "dsir_q").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batch(100L) > 0L && batch(101L) < 0L)

    val input = MemoryStream[(Long, String)]
    val q = graft.operators.SamplingOps.dsirScoreAgainst(
        input.toDF().toDF("doc_id", "text"), loaded, "text", buckets = 128)
      .writeStream.format("memory").queryName("dsirscores")
      .outputMode("append").start()
    try {
      input.addData(probes: _*)
      q.processAllAvailable()
      val streamed = spark.table("dsirscores").select("doc_id", "dsir_q")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("LM index probe scores a stream exactly like the batch pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = (0L until 20L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val index = graft.operators.TextOps.lmIndex(target, "text", buckets = 256)
    val probes = Seq((100L, "alpha beta gamma"), (101L, "gamma alpha beta"),
      (102L, "zz"))
    val batch = graft.operators.TextOps.lmScoreAgainst(
        probes.toDF("doc_id", "text"), index, "text", buckets = 256)
      .select("doc_id", "lm_q", "n_transitions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.lmScoreAgainst(
        input.toDF().toDF("doc_id", "text"), index, "text", buckets = 256)
      .writeStream.format("memory").queryName("lmscores")
      .outputMode("append").start()
    try {
      input.addData(probes: _*)
      q.processAllAvailable()
      val streamed = spark.table("lmscores")
        .select("doc_id", "lm_q", "n_transitions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-static MinHash probe flags near-dups like the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 39).map(i => s"w$i") :+ "zz").mkString(" ")
    val fresh = (100 to 140).map(i => s"q$i").mkString(" ")
    val corpus = Seq((1L, base), (2L, fresh.replace("q", "p")))
      .toDF("doc_id", "text")
    val index = graft.operators.DedupOps.minhashSignatures(
      corpus, "doc_id", "text", numHashes = 64, shingleN = 2)

    val input = MemoryStream[(Long, String, Long)]
    val flagged = EventStreams.flagNearDuplicates(
        input.toDF().toDF("doc_id", "text", "arrival"), index,
        numHashes = 64, shingleN = 2, bands = 16, threshold = 0.5)
    // every incoming column except the text survives (e.g. an event-time
    // column a production stream watermarks on)
    assert(flagged.columns.contains("arrival"))
    assert(!flagged.columns.contains("text"))
    val q = flagged
      .writeStream.format("memory").queryName("neardups")
      .outputMode("append").start()
    try {
      input.addData((10L, nearDup, 777L), (11L, fresh, 778L))
      q.processAllAvailable()
      assert(spark.table("neardups").select("arrival")
        .collect().map(_.getLong(0)).forall(_ == 777L))
      val got = spark.table("neardups")
        .select("doc_id", "corpus_id", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // exactly once per flagged pair, matching the batch Against operator
      val batch = graft.operators.DedupOps.minhashNearDuplicatesAgainst(
          Seq((10L, nearDup), (11L, fresh)).toDF("doc_id", "text"), index,
          "doc_id", "text", numHashes = 64, shingleN = 2,
          bands = 16, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.sorted.toSeq == batch.sorted.toSeq)
      assert(got.exists { case (i, c, _) => i == 10L && c == 1L })
      assert(!got.exists(_._1 == 11L))
    } finally q.stop()
  }

  test("sliding windows assign events to overlapping windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.slidingCounts(input.toDF(), "10 minutes", "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    try {
      input.addData(Ev(ts(7), "click", 1, 1.0))
      q.processAllAvailable()
      val starts = spark.table("sliding")
        .collect().map(_.getTimestamp(0).toString).sorted.toSeq
      // event at 10:07 belongs to windows starting 10:00 and 10:05
      assert(starts == Seq("2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0"))
    } finally q.stop()
  }

  test("session windows split on gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.sessionCounts(input.toDF(), "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      // user 1: events at 10:01, 10:03 (one session), 10:20 (new session)
      input.addData(
        Ev(ts(1), "click", 1, 1.0), Ev(ts(3), "click", 1, 1.0),
        Ev(ts(20), "click", 1, 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .filter(col("user_id") === 1)
        .select("n_events").collect().map(_.getLong(0)).sorted.toSeq
      assert(rows == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming funnelProgress agrees with the batch funnel stages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      EventStreams.TypedEvent(1L, "view", 10L),
      EventStreams.TypedEvent(1L, "click", 20L),
      EventStreams.TypedEvent(2L, "click", 5L),  // click before any view
      EventStreams.TypedEvent(2L, "view", 10L),
      EventStreams.TypedEvent(3L, "view", 10L),
      EventStreams.TypedEvent(3L, "click", 200L)) // outside the gap
    val late = Seq( // second micro-batch: stage 3 for user 1, stage 2 for 2
      EventStreams.TypedEvent(1L, "purchase", 30L),
      EventStreams.TypedEvent(2L, "click", 15L))
    val input = MemoryStream[EventStreams.TypedEvent]
    val q = EventStreams.funnelProgress(input.toDS(),
        Seq("view", "click", "purchase"), maxGapMs = Some(50L))
      .writeStream.format("memory").queryName("funnelprog")
      .outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      input.addData(late: _*)
      q.processAllAvailable()
      val got = spark.table("funnelprog")
        .select("user_id", "stage", "tsMillis").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

      // batch twin over the union of both micro-batches
      val batchEv = (evs ++ late).map(e => (e.user_id, e.event_type, e.tsMillis))
        .toDF("u", "et", "ms")
      val stages = graft.operators.Sessionize.funnelStages(
        batchEv, "u", "et", "ms", Seq("view", "click", "purchase"),
        maxGap = Some(50L))
      val expect = stages.zipWithIndex.flatMap { case (st, i) =>
        st.select(col("u"), col(s"t${i + 1}")).collect()
          .map(r => (r.getLong(0), i + 1, r.getLong(1)))
      }.toSet
      assert(got == expect, s"got=$got expect=$expect")
    } finally q.stop()
  }

  test("flatMapGroupsWithState running totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserEvent]
    val q = EventStreams.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("append").start()
    try {
      input.addData(
        EventStreams.UserEvent(1L, 1000L, 2.0),
        EventStreams.UserEvent(1L, 2000L, 3.0),
        EventStreams.UserEvent(2L, 1500L, 7.0))
      q.processAllAvailable()
      input.addData(EventStreams.UserEvent(1L, 3000L, 5.0))
      q.processAllAvailable()
      val byBatch = spark.table("running")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // first batch: user1 n=2 sum=5; user2 n=1 sum=7; second: user1 n=3 sum=10
      assert(byBatch.contains((1L, 2L, 5.0)))
      assert(byBatch.contains((2L, 1L, 7.0)))
      assert(byBatch.contains((1L, 3L, 10.0)))
    } finally q.stop()
  }

  test("streaming asofCarry matches batch asofJoin on the driver events fixture") {
    // the q71-verified batch operator is the oracle; the stream replays the
    // REAL sf0.001 events table (purchases = left, views = right) in two
    // in-order micro-batches
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val batch = graft.operators.Sessionize.asofJoin(
        p, v, Seq("user_id"), "ts", "ts",
        Seq("event_id", "ts", "value"), rightTieBreak = "event_id")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        expr("unix_millis(ts)").as("t"),
        col("asof_event_id"), expr("unix_millis(asof_ts)").as("asof_t"),
        col("asof_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .toSet

    val feed = ev
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), (col("event_type") === "purchase").as("isLeft"),
        expr("unix_millis(ts)").as("tsMillis"), col("event_id"), col("value"))
      .as[EventStreams.AsofEvent]
      .collect()
      .sortBy(e => (e.tsMillis, if (e.isLeft) 1 else 0, e.event_id))
    val (first, second) = feed.splitAt(feed.length / 2)
    val input = MemoryStream[EventStreams.AsofEvent]
    val q = EventStreams.asofCarry(input.toDS())
      .writeStream.format("memory").queryName("asofcarry")
      .outputMode("append").start()
    try {
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.table("asofcarry").as[EventStreams.AsofMatch]
        .collect()
        .map(m => (m.user_id, m.purchase_id, m.tsMillis,
          m.view_id, m.view_tsMillis, m.view_value))
        .toSet
      assert(got.size == batch.size, s"got ${got.size} vs batch ${batch.size}")
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming funnelProgress matches batch funnelStages on the driver events fixture") {
    // the q74-verified batch operator is the oracle on the same fixture
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
    val stages = graft.operators.Sessionize.funnelStages(
      ev, "user_id", "event_type", "ms", steps, maxGap = Some(86400000L))
    val expect = stages.zipWithIndex.flatMap { case (st, i) =>
      st.select(col("user_id"), col(s"t${i + 1}")).collect()
        .map(r => (r.getLong(0), i + 1, r.getLong(1)))
    }.toSet

    val feed = ev.select(col("user_id"), col("event_type"),
        col("ms").as("tsMillis"))
      .as[EventStreams.TypedEvent]
      .collect()
      .sortBy(e => (e.tsMillis, e.event_type))
    val (first, second) = feed.splitAt(feed.length / 2)
    val input = MemoryStream[EventStreams.TypedEvent]
    val q = EventStreams.funnelProgress(input.toDS(), steps,
        maxGapMs = Some(86400000L))
      .writeStream.format("memory").queryName("funnelfix")
      .outputMode("append").start()
    try {
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.table("funnelfix")
        .select("user_id", "stage", "tsMillis").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == expect,
        s"stream-batch drift: onlyStream=${(got -- expect).take(5)} onlyBatch=${(expect -- got).take(5)}")
    } finally q.stop()
  }

  test("batch events table flows through the same window expr") {
    // the q14 batch query and tumblingCounts share grouping semantics
    val events = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(batch.count() > 0)
  }

  test("streaming transitionCarry matches batch eventTransitions on the driver events fixture") {
    // the q85-verified batch operator is the oracle; the stream replays the
    // REAL sf0.001 events table in three in-order micro-batches
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val batch = graft.operators.Sessionize.eventTransitions(
        ev, "user_id", "event_type", "ts", "event_id")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

    val feed = ev
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("tsMillis"))
      .as[EventStreams.SeqEvent]
      .collect()
      .sortBy(e => (e.tsMillis, e.event_id))
    val chunks = feed.grouped(math.max(1, feed.length / 3 + 1)).toSeq
    val input = MemoryStream[EventStreams.SeqEvent]
    val q = EventStreams.transitionCarry(input.toDS())
      .writeStream.format("memory").queryName("transcarry")
      .outputMode("append").start()
    try {
      chunks.foreach { c =>
        input.addData(c.toSeq)
        q.processAllAvailable()
      }
      val got = spark.table("transcarry")
        .groupBy("from_type", "to_type").count()
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == batch,
        s"stream-batch drift: onlyStream=${(got.toSet -- batch.toSet).take(5)} " +
          s"onlyBatch=${(batch.toSet -- got.toSet).take(5)}")
    } finally q.stop()
  }

  test("streaming historyCarry matches batch nextEventExamples on the driver events fixture") {
    // the q129-verified batch operator is the oracle; three in-order
    // micro-batches over the REAL sf0.001 events table
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val batch = graft.operators.Sessionize.nextEventExamples(
        ev, "user_id", "event_type", "ts", "event_id", historyLen = 3)
      .collect()
      .map(r => r.getLong(1) -> (r.getString(2), r.getString(3)))
      .toMap

    val feed = ev
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("tsMillis"))
      .as[EventStreams.SeqEvent]
      .collect()
      .sortBy(e => (e.tsMillis, e.event_id))
    val chunks = feed.grouped(math.max(1, feed.length / 3 + 1)).toSeq
    val input = MemoryStream[EventStreams.SeqEvent]
    val q = EventStreams.historyCarry(input.toDS(), historyLen = 3)
      .writeStream.format("memory").queryName("histcarry")
      .outputMode("append").start()
    try {
      chunks.foreach { c =>
        input.addData(c.toSeq)
        q.processAllAvailable()
      }
      val got = spark.table("histcarry")
        .collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[String]("history"), r.getAs[String]("label")))
        .toMap
      assert(got == batch,
        s"stream-batch drift: onlyStream=${(got.toSet -- batch.toSet).take(5)} " +
          s"onlyBatch=${(batch.toSet -- got.toSet).take(5)}")
    } finally q.stop()
  }

  test("streaming trendByGroup (complete mode) converges to the batch trend") {
    // the five trend sums are mergeable state, so the BATCH operator
    // applies unchanged to a stream — final complete-mode output must
    // equal the batch q141 result on the same daily points
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val daily = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("day"), col("n"))
      .as[(String, Long, Long)]
      .collect().toSeq
    val batch = graft.operators.Stats.trendByGroup(
        daily.toDF("event_type", "day", "n"), "event_type", "day", "n")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val input = MemoryStream[(String, Long, Long)]
    val q = graft.operators.Stats.trendByGroup(
        input.toDS().toDF("event_type", "day", "n"),
        "event_type", "day", "n")
      .writeStream.format("memory").queryName("trendstream")
      .outputMode("complete").start()
    try {
      daily.grouped(math.max(1, daily.size / 3 + 1)).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = spark.table("trendstream").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(got == batch, s"stream-batch trend drift: $got vs $batch")
    } finally q.stop()
  }

  test("streaming k-anonymity class sizes + batch summarize equal the batch report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // quasi-identifiers from the driver events fixture: (event_type,
    // value-band) pairs — small classes exist at this scale
    val rows = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type"),
        (floor(col("value") / 50.0) * 50).cast("long").as("band"))
      .as[(String, Long)].collect().toSeq
    val k = 5L
    val batch = graft.operators.PrivacyOps.kAnonymityReport(
      rows.toDF("event_type", "band"), Seq("event_type", "band"), k)
      .collect().head.toSeq
    val input = MemoryStream[(String, Long)]
    val q = graft.streaming.EventStreams.streamingKClassSizes(
        input.toDS().toDF("event_type", "band"), Seq("event_type", "band"))
      .writeStream.format("memory").queryName("kclasses")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.PrivacyOps.summarizeClassSizes(
        spark.table("kclasses"), k).collect().head.toSeq
      assert(got == batch, s"stream-batch k-anonymity drift: $got vs $batch")
    } finally q.stop()
  }

  test("streaming FK orphan-rate equals the batch audit row when drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // child = event user_ids streaming in; parent = a static dimension
    // holding only even user ids, so real orphans exist
    val users = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id")).as[Long].collect().toSeq
    val parent = users.filter(_ % 2 == 0).distinct.toDF("uid")
    val batch = graft.operators.ProfileOps.fkAudit(
      users.toDF("user_id"), parent, "user_id", "uid")
      .collect().head.toSeq
    val input = MemoryStream[Long]
    val q = graft.streaming.EventStreams.streamingFkAudit(
        input.toDS().toDF("user_id"), parent, "user_id", "uid")
      .writeStream.format("memory").queryName("fkaudit")
      .outputMode("complete").start()
    try {
      users.grouped(math.max(1, users.size / 3 + 1)).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = spark.table("fkaudit").collect().head.toSeq
      assert(got == batch, s"stream-batch FK drift: $got vs $batch")
    } finally q.stop()
  }

  test("streaming PSI counts + static reference equal the batch PSI report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference = even-week events, current = odd-week events streaming in
    val rows = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(((expr("unix_millis(ts) div 604800000") % 2) === 1)
          .as("is_cur"),
        expr("CAST(floor(value*100 + 0.5) AS BIGINT) div 500").as("vb"))
      .as[(Boolean, Long)].collect().toSeq
    val batch = graft.operators.CorpusCompareOps.psiReport(
        rows.toDF("is_cur", "vb"), "is_cur", "vb")
      .collect().map(r => r.getAs[Long]("b") ->
        (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          r.getAs[Long]("psi_q"))).toMap
    val refCounts = rows.filter(!_._1).map(_._2).toDF("vb")
      .groupBy(col("vb").as("b")).agg(count(lit(1)).as("n_ref"))
    val input = MemoryStream[Long]
    val q = graft.streaming.EventStreams.streamingPsiCounts(
        input.toDS().toDF("vb"), "vb")
      .writeStream.format("memory").queryName("psicounts")
      .outputMode("complete").start()
    try {
      val cur = rows.filter(_._1).map(_._2)
      cur.grouped(math.max(1, cur.size / 3 + 1)).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.CorpusCompareOps.psiFromCounts(
          refCounts, spark.table("psicounts"))
        .collect().map(r => r.getAs[Long]("b") ->
          (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
            r.getAs[Long]("psi_q"))).toMap
      assert(got == batch, s"stream-batch PSI drift: $got vs $batch")
    } finally q.stop()
  }

  test("streaming term counts + static vocab == batch oovRate") {
    // q170's streaming twin: the (source, term) count phase is mergeable
    // complete-mode state; folding any drained snapshot through
    // oovFromCounts with the static tokenizer vocab reproduces the batch
    // report exactly on the real documents fixture
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("text"))
    val vocab = graft.operators.TextOps
      .tokenFrequencies(docs, "text", k = 20).select("token")
    val batch = graft.operators.TokenizerOps
      .oovRate(docs, "text", "source", vocab, "token")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"),
          r.getAs[Long]("oov_permille"))).toMap
    val rows = docs.as[(String, String)].collect().toSeq
    val input = MemoryStream[(String, String)]
    val q = graft.streaming.EventStreams.streamingTermCounts(
        input.toDS().toDF("source", "text"), "text", "source")
      .writeStream.format("memory").queryName("oovcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.TokenizerOps
        .oovFromCounts(spark.table("oovcounts"), vocab, "token")
        .collect().map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"),
            r.getAs[Long]("oov_permille"))).toMap
      assert(got == batch, s"stream-batch OOV drift: $got vs $batch")
    } finally q.stop()
  }

  test("streaming bucket counts + batch finisher == batch burst report") {
    // q175's streaming twin on the real events fixture: the (key, bucket)
    // count phase is mergeable complete-mode state; the batch finisher
    // over any drained snapshot equals the batch report
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
    val batch = graft.operators.Sessionize.burstActivityReport(
        events, "user_id", "ts", bucketMs = 3600000L, burstThreshold = 3L)
      .collect().map(r => r.getAs[Long]("key") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("max_per_bucket"),
          r.getAs[Boolean]("is_burst"))).toMap
    val rows = events.select(col("user_id"), expr("unix_millis(ts)"))
      .as[(Long, Long)].collect().toSeq
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.EventStreams.streamingBucketCounts(
        input.toDS().toDF("user_id", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        "user_id", "ts", bucketMs = 3600000L)
      .writeStream.format("memory").queryName("burstcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.Sessionize.burstFromBucketCounts(
          spark.table("burstcounts"), burstThreshold = 3L)
        .collect().map(r => r.getAs[Long]("key") ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("max_per_bucket"),
            r.getAs[Boolean]("is_burst"))).toMap
      assert(got == batch, s"stream-batch burst drift")
    } finally q.stop()
  }

  test("composed streaming intake pipeline (dedup -> quality -> chunk) matches batch") {
    // end-to-end composition on the REAL documents fixture: streaming
    // exact dedup, then stateless quality gate + chunking — one continuous
    // readStream plan, asserted row-equal to the same operators in batch
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      // base offset: epoch-0 event time collides with the INITIAL
      // watermark (0) and is treated as late -> dropped
      .withColumn("ts", expr("timestamp_millis(1700000000000 + doc_id * 1000)"))
    // duplicate every 5th doc under a fresh id: dedup has real work
    val withDups = docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    def stagesAfterDedup(deduped: org.apache.spark.sql.DataFrame) = {
      val scored = deduped.filter(
        graft.operators.TextOps.tokenCount(col("text")) >= 5)
      graft.operators.TextOps.chunkDocuments(scored, "doc_id", "text",
        size = 100, stride = 60)
    }
    // batch twin: same fingerprint rule, keep the FIRST (min doc_id is the
    // original; the stream sees originals before the +1e6 duplicates)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val batchDeduped = withDups
      .withColumn("__fp", md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
    val want = stagesAfterDedup(batchDeduped)
      .select("doc_id", "chunk_id", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    val feed = withDups.orderBy("doc_id")
      .as[(Long, String, java.sql.Timestamp)].collect()
    // originals in batch 1, duplicates in batch 2: the state-store winner
    // is then deterministic (within one batch, first-processed-wins order
    // is partition-dependent and the batch twin could not replay it)
    val (first, second) = feed.partition(_._1 < 1000000L)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val streamed = stagesAfterDedup(
      EventStreams.dedupDocuments(
        input.toDF().toDF("doc_id", "text", "ts"),
        watermarkDelay = "10 days")) // fixture spans days of event time
    val q = streamed
      .writeStream.format("memory").queryName("intake")
      .outputMode("append").start()
    try {
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.table("intake")
        .select("doc_id", "chunk_id", "chunk_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == want,
        s"onlyStream=${(got -- want).take(3)} onlyBatch=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("stream-stream interval join equals its batch twin (ad attribution)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Imp(ts: Timestamp, user_id: Long, imp_id: Long)
    val imps = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = EventStreams.intervalJoin(
        imps.toDF().toDF("ts", "user_id", "imp_id"),
        clicks.toDF().toDF("ts", "user_id", "click_id"),
        "user_id", "ts", maxGap = "10 minutes", watermarkDelay = "5 minutes")
      .select("l_imp_id", "r_click_id")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      val impRows = Seq(
        (ts(0), 1L, 100L), (ts(20), 1L, 101L), // two imp sessions, user 1
        (ts(0), 2L, 200L), (ts(40), 3L, 300L))
      val clickRows = Seq(
        (ts(5), 1L, 900L),   // attributes to imp 100 only
        (ts(25), 1L, 901L),  // to imp 101 only (100 is > 10 min away)
        (ts(12), 2L, 902L),  // > 10 min after imp 200 -> no match
        (ts(40), 3L, 903L))  // equal-ts click matches
      imps.addData(impRows.take(2): _*)
      clicks.addData(clickRows.take(1): _*)
      q.processAllAvailable()
      imps.addData(impRows.drop(2): _*)
      clicks.addData(clickRows.drop(1): _*)
      q.processAllAvailable()
      // push the watermark far enough that all joinable pairs are emitted
      imps.addData((ts(59), 9L, 999L))
      clicks.addData((ts(59), 9L, 998L))
      q.processAllAvailable()
      val got = spark.table("attrib")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = EventStreams.intervalJoin(
          impRows.toDF("ts", "user_id", "imp_id"),
          clickRows.toDF("ts", "user_id", "click_id"),
          "user_id", "ts", maxGap = "10 minutes")
        .select("l_imp_id", "r_click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === Set((100L, 900L), (101L, 901L), (300L, 903L)))
      assert((got -- Set((999L, 998L))) === batch,
        s"stream=$got batch=$batch")
    } finally q.stop()
  }

  test("interval join left_outer: unmatched impressions surface with null clicks") {
    import spark.implicits._
    val impRows = Seq((ts(0), 1L, 100L), (ts(0), 2L, 200L))
    val clickRows = Seq((ts(5), 1L, 900L)) // user 2 never clicks
    val out = EventStreams.intervalJoin(
        impRows.toDF("ts", "user_id", "imp_id"),
        clickRows.toDF("ts", "user_id", "click_id"),
        "user_id", "ts", maxGap = "10 minutes", joinType = "left_outer")
      .select("l_imp_id", "r_click_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(out === Set((100L, 900L), (200L, -1L)))
  }

  test("streaming count-min grid equals the batch sketch when drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = (0 until 40).map(i => s"alpha tok${i % 11} beta tok${i % 5}")
    val input = MemoryStream[String]
    val q = EventStreams.streamingCountMin(
        input.toDF().toDF("text"), "text", depth = 3, width = 32)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      // two micro-batches: the grid must merge across them
      input.addData(texts.take(15): _*)
      q.processAllAvailable()
      input.addData(texts.drop(15): _*)
      q.processAllAvailable()
      val got = spark.table("cms_stream")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.SketchOps.countMinCells(
          graft.operators.SketchOps.tokenCounts(
            texts.toDF("text"), "text"), depth = 3, width = 32)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming histogram cells equal the batch sketch when drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 50).map(i => (s"g${i % 3}", (i * 17 % 600).toDouble))
    val input = MemoryStream[(String, Double)]
    val q = EventStreams.streamingHistogram(
        input.toDF().toDF("g", "v"), "g", "v", 0L, 50000L, 25)
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(20): _*)
      q.processAllAvailable()
      input.addData(rows.drop(20): _*)
      q.processAllAvailable()
      val got = spark.table("hist_stream")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val batch = graft.operators.SketchOps.histogramSketch(
          rows.toDF("g", "v"), "g", "v", 0L, 50000L, 25)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming outlier flags equal the batch z-test verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // group a: tight cluster + two spikes; group b: constant (never flags)
    val rows = ((1 to 50).map(i => (i.toLong, "a", 10.0)) ++
      Seq((51L, "a", 500.0), (52L, "a", -480.0)) ++
      (60 to 70).map(i => (i.toLong, "b", 7.77))).toSeq
    val moments = graft.operators.Stats.momentsTable(
      rows.toDF("id", "g", "v"), "g", "v")
    val input = MemoryStream[(Long, String, Double)]
    val q = EventStreams.streamingOutlierFlags(
        input.toDF().toDF("id", "g", "v"), moments, "g", "v", 3000L)
      .writeStream.format("memory").queryName("outlier_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(30): _*)
      q.processAllAvailable()
      input.addData(rows.drop(30): _*)
      q.processAllAvailable()
      val flagged = spark.table("outlier_stream")
        .filter(col("is_out")).select("id").collect().map(_.getLong(0)).toSet
      assert(flagged === Set(51L, 52L), "exactly the two planted spikes")
      assert(spark.table("outlier_stream").count() === rows.size.toLong)
      // agrees with the batch report
      val batch = graft.operators.Stats.zScoreOutliers(
          rows.toDF("id", "g", "v"), "g", "v", 3000L)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(batch === Map("a" -> 2L, "b" -> 0L))
    } finally q.stop()
  }

  test("streaming NB routing equals the batch classifier row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (2L, "en", "the cat and the dog sat on the mat"),
      (4L, "en", "a dog and a cat walk into the bar"),
      (6L, "de", "der hund und die katze sitzen auf der matte"),
      (8L, "de", "die katze und der hund gehen in die stadt"))
      .toDF("doc_id", "lang", "text")
    val incoming = Seq(
      (1L, "the cat sat with a dog"),
      (3L, "der hund und die katze"),
      (5L, ""),
      (7L, "die matte und der hund in der stadt"))
    val model = graft.operators.ClassifierOps.nbTrain(
      train, "lang", "text", 64)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.streamingNbRoute(
        input.toDF().toDF("doc_id", "text"), model, "text", 64)
      .writeStream.format("memory").queryName("nb_stream")
      .outputMode("append").start()
    try {
      input.addData(incoming.take(2): _*)
      q.processAllAvailable()
      input.addData(incoming.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("nb_stream")
        .select("doc_id", "pred_label", "score_q").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val batch = graft.operators.ClassifierOps.nbClassify(
          incoming.toDF("doc_id", "text"), model, "doc_id", "text", 64)
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got === batch)
      assert(got(1L)._1 === "en")
      assert(got(3L)._1 === "de")
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch registers when drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = (0 until 60).map(i => s"w${i % 23} x${(i * 3) % 17} shared")
    val input = MemoryStream[String]
    val q = EventStreams.streamingHllRegisters(
        input.toDF().toDF("text"), "text", p = 6)
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      input.addData(texts.take(20): _*)
      q.processAllAvailable()
      input.addData(texts.drop(20): _*)
      q.processAllAvailable()
      val got = spark.table("hll_stream")
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val batch = graft.operators.SketchOps.hllRegisters(
          graft.operators.SketchOps.tokenCounts(texts.toDF("text"), "text"),
          p = 6)
        .select("reg", "mrho")
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming daily counts + batch z-test equal the batch " +
      "volumeAnomalies report when drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val daily = ev
      .select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    def report(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Stats.volumeAnomalies(d, "event_type", "day", "n")
        .collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day")) ->
          (r.getAs[Long]("n"), r.getAs[Boolean]("anomalous")))
        .toMap
    val batch = report(daily)

    val feed = ev
      .select(col("event_type"), expr("unix_millis(ts)").as("ms"))
      .as[(String, Long)].collect().toSeq
    val input = MemoryStream[(String, Long)]
    val q = EventStreams.streamingDailyCounts(
        input.toDS().toDF("event_type", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        "event_type")
      .writeStream.format("memory").queryName("dailycounts")
      .outputMode("complete").start()
    try {
      feed.grouped(math.max(1, feed.size / 3 + 1)).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = report(spark.table("dailycounts"))
      assert(got == batch, s"stream-batch drift: " +
        s"onlyStream=${(got.toSet -- batch.toSet).take(5)} " +
        s"onlyBatch=${(batch.toSet -- got.toSet).take(5)}")
    } finally q.stop()
  }

  test("streaming gapCarry + batch disc percentiles equal the batch " +
      "interArrivalStats profile when drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    def profile(r: org.apache.spark.sql.Row) =
      r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("p50"), r.getAs[Long]("p90"),
          r.getAs[Long]("p99"))
    val batch = graft.operators.Sessionize.interArrivalStats(
        ev, "user_id", "ts", "event_id", "event_type")
      .collect().map(profile).toMap

    val feed = ev
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("tsMillis"))
      .as[EventStreams.SeqEvent]
      .collect()
      .sortBy(e => (e.tsMillis, e.event_id))
    val input = MemoryStream[EventStreams.SeqEvent]
    val q = EventStreams.gapCarry(input.toDS())
      .writeStream.format("memory").queryName("gapcarry")
      .outputMode("append").start()
    try {
      feed.grouped(math.max(1, feed.length / 3 + 1)).foreach { c =>
        input.addData(c.toSeq)
        q.processAllAvailable()
      }
      val got = graft.operators.Quantiles.discPercentiles(
          spark.table("gapcarry"), "event_type", "gap_ms", "event_id",
          Seq(0.5, 0.9, 0.99))
        .collect().map(profile).toMap
      assert(got == batch, s"stream-batch drift: " +
        s"onlyStream=${(got.toSet -- batch.toSet).take(5)} " +
        s"onlyBatch=${(batch.toSet -- got.toSet).take(5)}")
    } finally q.stop()
  }

  test("streaming horizonCarry matches batch horizonDedup on the driver " +
      "events fixture") {
    // the q165-verified batch operator is the oracle: same (type|user)
    // page key, same 1h horizon, fed as three in-order micro-batches —
    // fresh flags AND cumulative epoch indices must agree row-for-row
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(concat(col("event_type"), lit("|"),
          col("user_id").cast("string")).as("page"),
        col("ts"), col("event_id"))
    val batch = graft.operators.DedupOps.horizonDedup(
        ev, "page", "ts", "event_id", horizonMs = 3600000L)
      .select("page", "event_id", "fresh", "epoch")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getBoolean(2), r.getLong(3)))
      .toMap

    val feed = ev
      .select(col("page").as("key"), expr("unix_millis(ts)").as("tsMillis"),
        col("event_id"))
      .as[EventStreams.KeyedSighting]
      .collect()
      .sortBy(e => (e.tsMillis, e.event_id))
    val input = MemoryStream[EventStreams.KeyedSighting]
    val q = EventStreams.horizonCarry(input.toDS(), horizonMs = 3600000L)
      .writeStream.format("memory").queryName("horizoncarry")
      .outputMode("append").start()
    try {
      feed.grouped(math.max(1, feed.length / 3 + 1)).foreach { c =>
        input.addData(c.toSeq)
        q.processAllAvailable()
      }
      val got = spark.table("horizoncarry")
        .as[EventStreams.HorizonObs]
        .collect()
        .map(o => (o.key, o.event_id) -> (o.fresh, o.epoch))
        .toMap
      assert(got.size == batch.size, s"${got.size} vs ${batch.size}")
      assert(got == batch, s"stream-batch drift: " +
        s"onlyStream=${(got.toSet -- batch.toSet).take(5)} " +
        s"onlyBatch=${(batch.toSet -- got.toSet).take(5)}")
    } finally q.stop()
  }

  test("horizonCarry keeps a chained recrawl run in ONE epoch across " +
      "micro-batches (the semantics dropDuplicatesWithinWatermark does " +
      "not guarantee past the first-sighting delay)") {
    // t0, t0+0.8h, t0+1.6h at a 1h horizon: each sighting is within the
    // horizon of its PREDECESSOR, so chained semantics keep one epoch —
    // even with the run split across micro-batches; t0+3h starts epoch 1
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    val input = MemoryStream[EventStreams.KeyedSighting]
    val q = EventStreams.horizonCarry(input.toDS(), horizonMs = h)
      .writeStream.format("memory").queryName("horizonchain")
      .outputMode("append").start()
    try {
      input.addData(EventStreams.KeyedSighting("k", 0L, 1L))
      q.processAllAvailable()
      input.addData(
        EventStreams.KeyedSighting("k", (0.8 * h).toLong, 2L),
        EventStreams.KeyedSighting("k", (1.6 * h).toLong, 3L))
      q.processAllAvailable()
      input.addData(EventStreams.KeyedSighting("k", 3 * h + 1L, 4L))
      q.processAllAvailable()
      val got = spark.table("horizonchain")
        .as[EventStreams.HorizonObs]
        .collect().map(o => o.event_id -> (o.fresh, o.epoch)).toMap
      assert(got(1L) == (true, 0L))
      assert(got(2L) == (false, 0L))
      assert(got(3L) == (false, 0L),
        "chained: within horizon of the PREVIOUS sighting across batches")
      assert(got(4L) == (true, 1L), "quiet horizon passed -> new epoch")
    } finally q.stop()
  }

  test("streaming KS grid + batch finisher == batch ksDrift report") {
    // q184's streaming twin on the real events fixture: the (value,
    // n_ref, n_cur) CDF grid is mergeable complete-mode state; the
    // batch finisher over any drained snapshot equals the batch
    // statistic bit-for-bit
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
      .select((col("event_type") === "purchase").as("side"),
        floor(col("value")).cast("long").as("vb"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val batch = key(graft.operators.Stats.ksDrift(events, "side", "vb")
      .head())
    val rows = events.as[(Boolean, Long)].collect().toSeq
    val input = MemoryStream[(Boolean, Long)]
    val q = graft.streaming.EventStreams.streamingKsCounts(
        input.toDS().toDF("side", "vb"), "side", "vb")
      .writeStream.format("memory").queryName("kscounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = key(graft.operators.Stats.ksFromCounts(
        spark.table("kscounts")).head())
      assert(got == batch, s"stream-batch KS drift: $got vs $batch")
    } finally q.stop()
  }

  test("streaming category counts + batch finisher == batch per-user " +
      "entropy report") {
    // q195's streaming twin on the real events fixture: the (group,
    // value) grid is mergeable complete-mode state; the batch finisher
    // over any drained snapshot equals the batch scores bit-for-bit
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))
    val batch = graft.operators.Stats.entropyByGroup(
        events, "user_id", "event_type")
      .collect().map(key).toMap
    val rows = events.select(col("user_id"), col("event_type"))
      .as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.streamingCategoryCounts(
        input.toDS().toDF("user_id", "event_type"),
        "user_id", "event_type")
      .writeStream.format("memory").queryName("entcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.Stats.entropyFromCounts(
          spark.table("entcounts"), "user_id")
        .collect().map(key).toMap
      assert(got == batch, "stream-batch entropy drift")
    } finally q.stop()
  }

  test("streaming bucket counts + batch finisher == batch CUSUM " +
      "changepoint report") {
    // q189's streaming twin on the real events fixture: the same
    // mergeable (key, bucket) count state that feeds the burst monitor
    // folds through cusumFromBucketCounts for identical level-shift
    // estimates
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
    def key(r: org.apache.spark.sql.Row) = r.getAs[String]("key") ->
      (r.getAs[Long]("n_buckets"), r.getAs[Long]("total"),
        if (r.isNullAt(3)) -1L else r.getAs[Long]("cp_bucket"),
        if (r.isNullAt(4)) -1L else r.getAs[Long]("cusum_peak"),
        if (r.isNullAt(5)) -1L else r.getAs[Long]("cusum_permille"))
    val batch = graft.operators.Sessionize.cusumChangepoint(
        events, "event_type", "ts", bucketMs = 86400000L)
      .collect().map(key).toMap
    val rows = events.select(col("event_type"), expr("unix_millis(ts)"))
      .as[(String, Long)].collect().toSeq
    val input = MemoryStream[(String, Long)]
    val q = graft.streaming.EventStreams.streamingBucketCounts(
        input.toDS().toDF("event_type", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        "event_type", "ts", bucketMs = 86400000L)
      .writeStream.format("memory").queryName("cusumcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.Sessionize.cusumFromBucketCounts(
          spark.table("cusumcounts"))
        .collect().map(key).toMap
      assert(got == batch, "stream-batch CUSUM drift")
    } finally q.stop()
  }

  test("streaming tstv counts + batch finisher == batch Ts/Tv census") {
    // q209's streaming twin on the q209 projection of the real part
    // fixture: the (group, ts/tv/other) census is mergeable
    // complete-mode state
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val variants = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_brand"),
        when(col("p_partkey") % 11 === 0, lit("AT"))
          .otherwise(expr(
            "substr('ACGT', cast(p_partkey % 4 as int) + 1, 1)"))
          .as("r"),
        expr("substr('ACGT', cast((p_partkey % 4 + p_partkey % 3 + 1)" +
          " % 4 as int) + 1, 1)").as("a"))
    def key(row: org.apache.spark.sql.Row) = row.getString(0) ->
      (row.getLong(1), row.getLong(2), row.getLong(3),
        if (row.isNullAt(4)) Double.NaN else row.getDouble(4))
    val batch = graft.operators.VariantQc
      .tstvRatio(variants, "p_brand", "r", "a")
      .collect().map(key).toMap
    val rows = variants.as[(String, String, String)].collect().toSeq
    val input = MemoryStream[(String, String, String)]
    val q = graft.streaming.EventStreams.streamingTstvCounts(
        input.toDS().toDF("p_brand", "r", "a"), "p_brand", "r", "a")
      .writeStream.format("memory").queryName("tstvcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.VariantQc
        .tstvFromCounts(spark.table("tstvcounts"), "p_brand")
        .collect().map(key).toMap
      assert(got == batch, "stream-batch Ts/Tv drift")
    } finally q.stop()
  }

  test("streaming AFS counts + batch finisher == batch allele-" +
      "frequency spectrum") {
    // q212's streaming twin on the q212 projection of the real
    // lineitem fixture: per-bin site counts merge across micro-batches
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val variants = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_quantity").cast("long").as("ac"),
        when(col("l_partkey") % 97 === 0, lit(0L))
          .otherwise(lit(40L) + (col("l_orderkey") % 3) * 10L)
          .as("an"))
    def key(row: org.apache.spark.sql.Row) =
      row.getLong(0) -> row.getLong(1)
    val batch = graft.operators.VariantQc
      .alleleFrequencySpectrum(variants, "ac", "an")
      .collect().map(key).toMap
    val rows = variants.as[(Long, Long)].collect().toSeq
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.EventStreams.streamingAfsCounts(
        input.toDS().toDF("ac", "an"), "ac", "an")
      .writeStream.format("memory").queryName("afscounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.VariantQc
        .afsFromCounts(spark.table("afscounts"))
        .collect().map(key).toMap
      assert(got == batch, "stream-batch AFS drift")
    } finally q.stop()
  }

  test("streaming mendelian counts + batch finisher == batch trio " +
      "census") {
    // q214's streaming twin on the q214 projection of the real
    // customer fixture: the bounded 27-row census merges across
    // micro-batches
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val trios = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "customer")
      .select((col("c_custkey") % 3).cast("int").as("f"),
        expr("cast((c_custkey div 3) % 3 as int)").as("m"),
        expr("cast((c_custkey div 9) % 3 as int)").as("c"))
    def key(row: org.apache.spark.sql.Row) =
      (row.getInt(0), row.getInt(1), row.getInt(2),
        row.getBoolean(3)) -> row.getLong(4)
    val batch = graft.operators.VariantQc
      .mendelianViolations(trios, "f", "m", "c")
      .collect().map(key).toMap
    val rows = trios.as[(Int, Int, Int)].collect().toSeq
    val input = MemoryStream[(Int, Int, Int)]
    val q = graft.streaming.EventStreams.streamingMendelianCounts(
        input.toDS().toDF("f", "m", "c"), "f", "m", "c")
      .writeStream.format("memory").queryName("mendelcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.VariantQc
        .mendelianFromCounts(spark.table("mendelcounts"))
        .collect().map(key).toMap
      assert(got == batch, "stream-batch mendelian drift")
    } finally q.stop()
  }

  test("streaming substitution counts + batch finisher == batch SNV " +
      "substitution matrix") {
    // q220's streaming twin on the q220 projection of the real part
    // fixture
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val variants = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "part")
      .select(
        when(col("p_partkey") % 11 === 0, lit("AT"))
          .otherwise(expr(
            "substr('ACGT', cast(p_partkey % 4 as int) + 1, 1)"))
          .as("r"),
        expr("substr('ACGT', cast((p_partkey % 4 + p_partkey % 3 + 1)" +
          " % 4 as int) + 1, 1)").as("a"))
    def key(row: org.apache.spark.sql.Row) =
      (row.getString(0), row.getString(1)) ->
        (row.getLong(2), row.getLong(3))
    val batch = graft.operators.VariantQc
      .substitutionMatrix(variants, "r", "a")
      .collect().map(key).toMap
    val rows = variants.as[(String, String)].collect().toSeq
    val input = MemoryStream[(String, String)]
    val q = graft.streaming.EventStreams.streamingSubstitutionCounts(
        input.toDS().toDF("r", "a"), "r", "a")
      .writeStream.format("memory").queryName("subcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.VariantQc
        .substitutionFromCounts(spark.table("subcounts"))
        .collect().map(key).toMap
      assert(got == batch, "stream-batch substitution drift")
    } finally q.stop()
  }

  test("streaming indel counts + batch finisher == batch indel " +
      "length spectrum") {
    // q221's streaming twin on the q221 projection of the real part
    // fixture
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val variants = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "part")
      .select(
        when(col("p_partkey") % 13 === 0, lit("N"))
          .otherwise(expr("substr('ACGTACGTACGT', 1," +
            " 1 + cast(p_partkey % 6 as int))")).as("r"),
        expr("substr('ACGTACGTACGT', 2," +
          " 1 + cast(p_partkey % 4 as int))").as("a"))
    def key(row: org.apache.spark.sql.Row) =
      row.getInt(0) -> row.getLong(1)
    val batch = graft.operators.VariantQc
      .indelLengthSpectrum(variants, "r", "a", maxAbsLen = 4)
      .collect().map(key).toMap
    val rows = variants.as[(String, String)].collect().toSeq
    val input = MemoryStream[(String, String)]
    val q = graft.streaming.EventStreams.streamingIndelCounts(
        input.toDS().toDF("r", "a"), "r", "a", maxAbsLen = 4)
      .writeStream.format("memory").queryName("indelcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.VariantQc
        .indelFromCounts(spark.table("indelcounts"))
        .collect().map(key).toMap
      assert(got == batch, "stream-batch indel drift")
    } finally q.stop()
  }

  test("streaming call-rate counts + batch finisher == batch " +
      "per-sample call-rate census") {
    // q222's streaming twin on the q222 projection of the real
    // customer fixture (NULL gt = missing)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val genotypes = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "customer")
      .select(
        concat(lit("s"), (col("c_custkey") % 10).cast("string"))
          .as("sample_id"),
        when(col("c_custkey") % 13 === 0, lit(null).cast("int"))
          .otherwise((col("c_custkey") % 4).cast("int")).as("gt"))
    def key(row: org.apache.spark.sql.Row) = row.getString(0) ->
      (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
        row.getLong(5), row.getLong(6), row.getLong(7),
        if (row.isNullAt(8)) -1L else row.getLong(8))
    val batch = graft.operators.VariantQc
      .callRate(genotypes, "sample_id", "gt")
      .collect().map(key).toMap
    val rows = genotypes.as[(String, Option[Int])].collect().toSeq
    val input = MemoryStream[(String, Option[Int])]
    val q = graft.streaming.EventStreams.streamingCallRateCounts(
        input.toDS().toDF("sample_id", "gt"), "sample_id", "gt")
      .writeStream.format("memory").queryName("callratecounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.VariantQc
        .callRateFromCounts(spark.table("callratecounts"), "sample_id")
        .collect().map(key).toMap
      assert(got == batch, "stream-batch call-rate drift")
    } finally q.stop()
  }

  test("streaming calibration counts + batch finisher == batch ECE " +
      "report") {
    // q225's streaming twin on the q225 projection of the real events
    // fixture: the per-bin (n, sum_conf, n_correct) sums are mergeable
    // complete-mode state
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val labeled = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
      .select(((col("event_id") * 37) % 1001).cast("long").as("conf"),
        (((col("event_id") * 13) % 1000) <
          ((col("event_id") * 37) % 1001)).as("ok"))
    def key(row: org.apache.spark.sql.Row) = row.getInt(0) ->
      (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
        row.getLong(5))
    val batch = graft.operators.LabelQaOps
      .calibrationBins(labeled, "conf", "ok")
      .collect().map(key).toMap
    val rows = labeled.as[(Long, Boolean)].collect().toSeq
    val input = MemoryStream[(Long, Boolean)]
    val q = graft.streaming.EventStreams.streamingCalibrationCounts(
        input.toDS().toDF("conf", "ok"), "conf", "ok")
      .writeStream.format("memory").queryName("calibcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.LabelQaOps
        .calibrationFromCounts(spark.table("calibcounts"))
        .collect().map(key).toMap
      assert(got == batch, "stream-batch calibration drift")
    } finally q.stop()
  }

  test("streaming seasonal slot counts + batch finisher == batch " +
      "weekly seasonality profile") {
    // q217's streaming twin on the real events fixture: the
    // (key, dow, hour) slot census is mergeable complete-mode state;
    // the windowed finisher over any drained snapshot equals the batch
    // profile bit-for-bit
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
    def key(row: org.apache.spark.sql.Row) =
      (row.getString(0), row.getInt(1), row.getInt(2)) ->
        (row.getLong(3), row.getLong(4), row.getLong(5), row.getLong(6))
    val batch = graft.operators.TimeSeriesOps
      .seasonalProfile(events, "event_type", "ts")
      .collect().map(key).toMap
    val rows = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_millis(ts)"))
      .as[(String, Long)].collect().toSeq
    val input = MemoryStream[(String, Long)]
    val q = graft.streaming.EventStreams.streamingSeasonalSlotCounts(
        input.toDS().toDF("event_type", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        "event_type", "ts")
      .writeStream.format("memory").queryName("seasonalcounts")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val got = graft.operators.TimeSeriesOps
        .seasonalFromCounts(spark.table("seasonalcounts"), "event_type")
        .collect().map(key).toMap
      assert(got == batch, "stream-batch seasonality drift")
    } finally q.stop()
  }

  // The frame-preserving text operators add one scratch column to the
  // caller's frame and drop it again; a caller column of the same name
  // must come back unchanged.

  test("dedupDocuments keeps a caller's own __fp column") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text", "__fp")
    val out = EventStreams.dedupDocuments(docs, "text", "ts", "10 minutes")
    assert(out.columns.toSeq == docs.columns.toSeq)
    val q = out.writeStream.format("memory").queryName("dedup_own_fp")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(1), 1L, "Hello  World", "mine-1"),
        (ts(2), 2L, "hello world", "mine-2"),
        (ts(3), 3L, "something else", "mine-3"))
      q.processAllAvailable()
      val got = spark.table("dedup_own_fp").select("doc_id", "__fp").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "mine-1", 3L -> "mine-3"), s"got $got")
    } finally q.stop()
  }

  test("lmScoreAgainst keeps a caller's own __lm column") {
    import spark.implicits._
    val target = (0L until 20L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val index = graft.operators.TextOps.lmIndex(target, "text", buckets = 256)
    val probes = Seq((100L, "alpha beta gamma"), (101L, "zz"))
      .toDF("doc_id", "text")
    val plain = graft.operators.TextOps.lmScoreAgainst(probes, index, "text", 256)
      .select("doc_id", "lm_q", "n_transitions").collect().toSet
    val mine = probes.withColumn("__lm", concat(lit("mine-"), col("doc_id")))
    val out = graft.operators.TextOps.lmScoreAgainst(mine, index, "text", 256)
    assert(out.columns.toSeq == mine.columns.toSeq ++ Seq("lm_q", "n_transitions"))
    assert(out.select("doc_id", "lm_q", "n_transitions").collect().toSet == plain)
    assert(out.select("doc_id", "__lm").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(100L -> "mine-100", 101L -> "mine-101"))
  }

  test("streamingNbRoute keeps a caller's own __nb column") {
    import spark.implicits._
    val train = Seq(
      (2L, "en", "the cat and the dog sat on the mat"),
      (6L, "de", "der hund und die katze sitzen auf der matte"))
      .toDF("doc_id", "lang", "text")
    val model = graft.operators.ClassifierOps.nbTrain(train, "lang", "text", 64)
    val docs = Seq((1L, "the cat sat", "mine-1"), (3L, "der hund", "mine-3"))
      .toDF("doc_id", "text", "__nb")
    val out = EventStreams.streamingNbRoute(docs, model, "text", 64)
    assert(out.columns.toSeq == docs.columns.toSeq ++ Seq("pred_label", "score_q"))
    val got = out.select("doc_id", "__nb", "pred_label").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got == Map(1L -> ("mine-1", "en"), 3L -> ("mine-3", "de")), s"got $got")
  }
}
