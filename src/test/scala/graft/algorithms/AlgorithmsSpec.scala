package graft.algorithms

import graft.SparkSpec
import graft.core.ReferenceContigs
import graft.model._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.{coalesce, col, lit}

class SmithWatermanSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("exact match aligns fully") {
    val a = SmithWaterman.align("ACGTACGT", "ACGTACGT")
    assert(a.cigarX == "8M")
    assert(a.score == 8.0)
    assert(a.xStart == 0 && a.yStart == 0)
  }

  test("local alignment finds embedded segment") {
    val a = SmithWaterman.align("CGTA", "TTTTCGTATTTT")
    assert(a.cigarX == "4M")
    assert(a.yStart == 4 && a.yEnd == 8)
  }

  test("deletion in x shows as D in x cigar") {
    // x is missing 2 bases relative to y
    val a = SmithWaterman.align("AAAATTTT", "AAAACCTTTT")
    assert(a.cigarX == "4M2D4M")
    assert(a.cigarY == "4M2I4M")
  }

  test("insertion in x shows as I in x cigar") {
    val a = SmithWaterman.align("AAAACCTTTT", "AAAATTTT")
    assert(a.cigarX == "4M2I4M")
  }

  test("mismatch tolerated when flanks anchor") {
    val a = SmithWaterman.align("AAAAGAAAA", "AAAACAAAA")
    assert(a.cigarX == "9M")
    assert(math.abs(a.score - (8.0 - 1.0 / 3.0)) < 1e-9)
  }
}

class BqsrSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private def read(name: String, start: Long, seq: String, quals: String,
      md: String, rg: String = "rg1"): Alignment =
    Alignment(readName = Some(name), referenceName = Some("chr1"),
      start = Some(start), end = Some(start + seq.length),
      cigar = Some(s"${seq.length}M"), sequence = Some(seq),
      qualityScores = Some(quals), readMapped = Some(true),
      mappingQuality = Some(60),
      readNegativeStrand = Some(false), readGroupId = Some(rg),
      mismatchingPositions = Some(md))

  test("observation table counts mismatches per covariate") {
    // 10 bases at q=30 ('?'), MD says mismatch at offset 4
    val r = read("a", 100L, "ACGTACGTAC", "??????????", "4A5")
    val obs = Bqsr.observeRead(r, (_, _) => false).toSeq
    assert(obs.length == 10)
    assert(obs.map(_.mismatches).sum == 1)
    assert(obs.count(_.dinuc == "NN") == 1) // first base only
    val mm = obs.find(_.mismatches == 1).get
    assert(mm.cycle == 5) // 1-based cycles (CycleCovariate), index 4
    assert(mm.dinuc == "TA") // prev base T (pos3), base A (pos4)
  }

  test("cycles are 1-based, 5'-anchored, negated for second-of-fragment") {
    // positive first: 1..10; positive second: -1..-10;
    // negative first: 10..1; negative second: -10..-1
    assert(Bqsr.cycleAt(0, 10, negativeStrand = false, secondOfFragment = false) == 1)
    assert(Bqsr.cycleAt(9, 10, negativeStrand = false, secondOfFragment = false) == 10)
    assert(Bqsr.cycleAt(0, 10, negativeStrand = false, secondOfFragment = true) == -1)
    assert(Bqsr.cycleAt(0, 10, negativeStrand = true, secondOfFragment = false) == 10)
    assert(Bqsr.cycleAt(9, 10, negativeStrand = true, secondOfFragment = false) == 1)
    assert(Bqsr.cycleAt(9, 10, negativeStrand = true, secondOfFragment = true) == -1)
    val r2 = read("b", 100L, "ACGTACGTAC", "??????????", "10")
      .copy(readInFragment = Some(1))
    val obs = Bqsr.observeRead(r2, (_, _) => false).toSeq
    assert(obs.forall(_.cycle < 0), "second-of-fragment cycles negative")
  }

  test("known sites are masked") {
    val r = read("a", 100L, "ACGTACGTAC", "??????????", "4A5")
    val obs = Bqsr.observeRead(r, (ref, pos) => pos == 104L).toSeq
    assert(obs.length == 9)
    assert(obs.map(_.mismatches).sum == 0)
  }

  test("dinucleotide is reverse-complemented on negative strand") {
    // stored seq ACGTACGTAC is the reverse complement of the sequenced
    // read; sequenced-order pair at stored i = (comp(seq(i+1)), comp(seq(i)))
    val r = read("a", 100L, "ACGTACGTAC", "??????????", "10")
      .copy(readNegativeStrand = Some(true))
    val byCycle = Bqsr.observeRead(r, (_, _) => false).toSeq
      .map(o => o.cycle -> o.dinuc).toMap
    assert(byCycle(1) == "NN") // stored index 9 is the 5' sequenced end
    // stored index 8 (cycle 2): (comp('C'), comp('A')) = "GT"
    assert(byCycle(2) == "GT")
    // stored index 0 (cycle 10): (comp('C'), comp('A')) = "GT"
    assert(byCycle(10) == "GT")
  }

  test("spliced reads key mismatches in MD space (N ops excluded)") {
    // 4M100N6M with MD "4A5": the mismatch is the first base AFTER the
    // splice; genomic offset 104 but MD offset 4
    val r = read("s", 100L, "ACGTACGTAC", "??????????", "4A5")
      .copy(cigar = Some("4M100N6M"), end = Some(100L + 110L))
    val obs = Bqsr.observeRead(r, (_, _) => false).toSeq
    val mm = obs.filter(_.mismatches == 1L)
    assert(mm.length == 1, s"expected exactly one mismatch, got ${mm.length}")
    assert(mm.head.cycle == 5) // stored index 4, 1-based
  }

  test("observationDF fast path agrees with observeRead on varied reads") {
    import scala.util.Random
    val rnd = new Random(31)
    val bases = "ACGTN"
    val reads = (0 until 120).map { i =>
      val len = 8 + rnd.nextInt(24)
      val seq = (0 until len).map(_ => bases(rnd.nextInt(5))).mkString
      val quals = (0 until len).map(_ => (33 + rnd.nextInt(45)).toChar).mkString
      val mmAt = rnd.nextInt(len)
      val md = if (i % 3 == 0) s"$len" else s"${mmAt}G${len - mmAt - 1}"
      val cigar =
        if (i % 5 == 0 && len > 10) s"${len / 2}M2D${len - len / 2}M"
        else if (i % 7 == 0 && len > 10) s"3S${len - 3}M"
        else s"${len}M"
      Alignment(readName = Some(s"r$i"), referenceName = Some("chr" + (i % 2)),
        start = Some(rnd.nextInt(5000).toLong),
        cigar = Some(cigar), sequence = Some(seq), qualityScores = Some(quals),
        readMapped = Some(i % 11 != 0),
        mappingQuality = Some(60),
        readNegativeStrand = Some(i % 2 == 0),
        readPaired = Some(true), readInFragment = Some(i % 3 % 2),
        readGroupId = Some("rg" + (i % 3)),
        mismatchingPositions = Some(md))
    }
    // exclusion-shaped variants (r17: the includeRead + non-empty gates
    // moved out of the kernel into a declarative filter — pin every
    // exclusion reason against the reference observeRead, which still
    // applies them in-kernel)
    val base = reads.head
    val excluded = Seq(
      base.copy(readName = Some("x1"), mappingQuality = None),
      base.copy(readName = Some("x2"), mappingQuality = Some(0)),
      base.copy(readName = Some("x3"), duplicateRead = Some(true)),
      base.copy(readName = Some("x4"), failedVendorQualityChecks = Some(true)),
      base.copy(readName = Some("x5"), primaryAlignment = Some(false)),
      base.copy(readName = Some("x6"), sequence = None),
      base.copy(readName = Some("x7"), sequence = Some("")),
      base.copy(readName = Some("x8"), qualityScores = None),
      base.copy(readName = Some("x9"), qualityScores = Some("")),
      base.copy(readName = Some("x10"), mismatchingPositions = None),
      base.copy(readName = Some("x11"), cigar = None),
      base.copy(readName = Some("x12"), readMapped = None))
    // reported quality 287 does not fit the packed key's 8 bits
    val wideQ = reads(1).copy(readName = Some("wq"),
      qualityScores = reads(1).qualityScores.map("\u0140\u0140" + _.drop(2)))
    val all = reads ++ excluded :+ wideQ
    val ds = spark.createDataset(all)
    val mask = Bqsr.SnpMask(Seq(("chr0", 100L), ("chr1", 200L)))
    val fn = (ref: String, pos: Long) => mask.contains(ref, pos)
    val fast = Bqsr.observationDF(ds, fn).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)) ->
        (r.getLong(4), r.getLong(5))).toMap
    assert(fast.keys.exists(_._2 == 287))
    val slow = all.flatMap(r => Bqsr.observeRead(r, fn))
      .groupBy(o => (o.readGroupId, o.reportedQuality, o.cycle, o.dinuc))
      .view.mapValues(os =>
        (os.map(_.observations).sum, os.map(_.mismatches).sum)).toMap
    assert(fast == slow)
  }

  test("observationDF routes over-length reads through the unpacked walk") {
    // a read longer than the packed key's cycle field (>= 2^19 bases) must
    // not silently corrupt covariate keys — it takes the observeRead path
    val len = Bqsr.MaxPackedLen + 8
    val seq = "ACGT" * (len / 4 + 1)
    val long = Alignment(readName = Some("ultra"),
      referenceName = Some("chr1"), start = Some(10L),
      cigar = Some(s"${len}M"), sequence = Some(seq.take(len)),
      qualityScores = Some("I" * len), readMapped = Some(true),
      mappingQuality = Some(60),
      readNegativeStrand = Some(false), readPaired = Some(false),
      readGroupId = Some("rgL"), mismatchingPositions = Some(len.toString))
    val short = read("s1", 100L, "ACGTACGTAC", "IIIIIIIIII", "10")
    val ds = spark.createDataset(Seq(long, short))
    val fn = (_: String, _: Long) => false
    val fast = Bqsr.observationDF(ds, fn).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)) ->
        (r.getLong(4), r.getLong(5))).toMap
    val slow = Seq(long, short).flatMap(r => Bqsr.observeRead(r, fn))
      .groupBy(o => (o.readGroupId, o.reportedQuality, o.cycle, o.dinuc))
      .view.mapValues(os =>
        (os.map(_.observations).sum, os.map(_.mismatches).sum)).toMap
    assert(fast == slow)
    // the ultra-long read's largest cycle is present and uncorrupted
    assert(fast.keys.exists(k => k._1 == "rgL" && k._3 == len))
  }

  test("recalibration moves quality toward empirical rate") {
    // all bases quality 40 ('I') but half the reads mismatch everywhere:
    // empirical quality should drop well below 40
    val good = (1 to 8).map(i => read(s"g$i", 100L, "AAAAAAAAAA",
      "IIIIIIIIII", "10"))
    val bad = (1 to 8).map(i => read(s"b$i", 100L, "AAAAAAAAAA",
      "IIIIIIIIII", "0A0A0A0A0A0A0A0A0A0A"))
    val ds = spark.createDataset(good ++ bad)
    val recal = Bqsr(ds, Set.empty[(String, Long)]).collect()
    val q = recal.head.qualityScores.get.charAt(5) - 33
    assert(q < 10, s"expected low empirical quality, got $q") // ~3
    assert(recal.forall(_.qualityScores.get.length == 10))
  }

  test("empirical quality formula") {
    assert(Bqsr.empiricalQuality(999998L, 0L) == 50) // capped
    assert(Bqsr.empiricalQuality(98L, 0L) == 20)     // 1/100 error floor
    assert(Bqsr.empiricalQuality(8L, 4L) == 3)       // (4+1)/(8+2)=0.5
  }

  test("SnpMask: compact per-contig sorted arrays agree with the Set mask") {
    val rnd = new scala.util.Random(127)
    val sites = (0 until 5000).map(_ =>
      (s"chr${1 + rnd.nextInt(3)}", rnd.nextInt(100000).toLong)).toSet
    val mask = Bqsr.SnpMask(sites)
    assert(mask.siteCount == sites.size)
    sites.foreach { case (r, p) => assert(mask.contains(r, p)) }
    (0 until 2000).foreach { _ =>
      val probe = (s"chr${1 + rnd.nextInt(4)}", rnd.nextInt(120000).toLong)
      assert(mask.contains(probe._1, probe._2) == sites.contains(probe),
        s"disagreement at $probe")
    }
    // distributed build path
    import spark.implicits._
    val df = sites.toSeq.toDF("referenceName", "start")
    val fromDf = Bqsr.SnpMask.fromVariants(df)
    assert(fromDf.positions.keySet == mask.positions.keySet)
    fromDf.positions.foreach { case (k, v) =>
      assert(java.util.Arrays.equals(v, mask.positions(k))) }

    // the full pipeline gives identical results under either mask form
    val reads = (1 to 6).map(i => read(s"m$i", 100L, "ACGTACGTAC",
      "IIIIIIIIII", "4A5"))
    val ds = spark.createDataset(reads)
    val viaSet = Bqsr(ds, Set(("chr1", 104L))).collect()
      .map(r => r.readName.get -> r.qualityScores.get).toMap
    val viaMask = Bqsr(ds, Bqsr.SnpMask(Seq(("chr1", 104L)))).collect()
      .map(r => r.readName.get -> r.qualityScores.get).toMap
    assert(viaSet == viaMask)
  }

  test("recalibrate's column rewrite matches the per-read oracle field for field") {
    import scala.util.Random
    val rnd = new Random(53)
    val bases = "ACGTNacgtn"
    def str(len: Int, from: String) =
      (0 until len).map(_ => from(rnd.nextInt(from.length))).mkString
    // quality chars from '!' (q 0) up, so '!' and '"' are floored to 2
    def quals(len: Int) = (0 until len).map(_ => (33 + rnd.nextInt(45)).toChar).mkString
    val random = (0 until 300).map { i =>
      val len = 5 + rnd.nextInt(40)
      val mmAt = rnd.nextInt(len)
      Alignment(readName = Some(f"r$i%03d"), referenceName = Some("chr1"),
        start = Some(rnd.nextInt(2000).toLong), end = Some(3000L),
        cigar = Some(s"${len}M"), sequence = Some(str(len, bases)),
        qualityScores = Some(quals(len)), readMapped = Some(true),
        mappingQuality = Some(60),
        readNegativeStrand = if (i % 7 == 0) None else Some(rnd.nextBoolean()),
        readPaired = Some(true),
        readInFragment = if (i % 11 == 0) None else Some(rnd.nextInt(2)),
        duplicateRead = Some(i % 13 == 0), mateReferenceName = Some("chr2"),
        insertSize = Some(rnd.nextInt(500).toLong),
        readGroupId = if (i % 17 == 0) None else Some("rg" + rnd.nextInt(4)),
        mismatchingPositions = Some(s"${mmAt}A${len - mmAt - 1}"),
        attributes = Map("NM" -> "1", "XR" -> s"v$i"))
    }
    val base = random(1)
    val untouched = Seq(
      base.copy(readName = Some("u1"), readMapped = None),
      base.copy(readName = Some("u2"), readMapped = Some(false)),
      base.copy(readName = Some("u3"), sequence = None),
      base.copy(readName = Some("u4"), sequence = Some("")),
      base.copy(readName = Some("u5"), qualityScores = None),
      base.copy(readName = Some("u6"), qualityScores = Some("")))
    val odd = Seq(
      // quality string shorter than the sequence
      base.copy(readName = Some("o1"),
        qualityScores = base.qualityScores.map(_.drop(3))),
      // longer than the sequence on the negative strand (dinuc "NN")
      base.copy(readName = Some("o2"), readNegativeStrand = Some(true),
        qualityScores = base.qualityScores.map(_ + "IIII")),
      // q -1 at stored index 2 (cycle 3, "CG") and q 287 at index 4
      // (cycle 5, "TA"): both outside the packed key's 8 bits
      Alignment(readName = Some("w1"), referenceName = Some("chr1"),
        start = Some(5L), cigar = Some("8M"), sequence = Some("ACGTACGT"),
        qualityScores = Some("II I\u0140III"), readMapped = Some(true),
        mappingQuality = Some(60), readGroupId = Some("rgW"),
        mismatchingPositions = Some("8")))
    val len = Bqsr.MaxPackedLen + 8
    val long = Alignment(readName = Some("ultra"), referenceName = Some("chr1"),
      start = Some(10L), cigar = Some(s"${len}M"),
      sequence = Some(("ACGT" * (len / 4 + 1)).take(len)),
      qualityScores = Some("I" * len), readMapped = Some(true),
      mappingQuality = Some(60), readGroupId = Some("rgL"),
      mismatchingPositions = Some(len.toString))
    val all = random ++ untouched ++ odd :+ long

    // the table sees half the reads, never rg3, and loses about a fifth
    // of the short reads' cells, so absent read groups and keys without a
    // cell both occur
    val mask = Bqsr.SnpMask(Seq(("chr1", 700L), ("chr1", 1400L)))
    val observed = Bqsr.observationTable(
      spark.createDataset(random.take(150).filter(!_.readGroupId.contains("rg3")) :+ long),
      (ref, pos) => mask.contains(ref, pos))
    val table = observed.filter { case (k, _) =>
      k._1 == "rgL" || (k.hashCode & 0x7fffffff) % 5 != 0 } ++ Map(
        ("rgW", -1, 3, "CG") -> (10L, 9L), ("rgW", 287, 5, "TA") -> (100L, 0L))
    assert(table.keys.exists(k => k._1 == "rgL" && k._3 >= Bqsr.MaxPackedLen))

    val ds = spark.createDataset(all)
    // the same reads behind a plan with reordered and extra columns and a
    // non-nullable one
    val reordered = ds.toDF().withColumn("extra", lit(1))
      .withColumn("duplicateRead", coalesce(col("duplicateRead"), lit(false)))
      .select((col("extra") +: ds.columns.reverse.toSeq.map(col)): _*)
      .as[Alignment]
    assert(!reordered.schema("duplicateRead").nullable)
    Seq(ds, reordered).foreach { in =>
      val got = Bqsr.recalibrate(in, table)
      val want = BqsrSpec.recalibrateOracle(in, table)
      assert(got.schema == want.schema)
      val gotRows = got.toDF().collect().sortBy(_.getAs[String]("readName")).toSeq
      val wantRows = want.toDF().collect().sortBy(_.getAs[String]("readName")).toSeq
      assert(gotRows == wantRows)
      val byName = got.collect().map(r => r.readName.get -> r).toMap
      assert(byName == want.collect().map(r => r.readName.get -> r).toMap)
      untouched.foreach(u => assert(byName(u.readName.get) == u))
      // the wide cells were found: -1 -> (9+1)/(10+2) floors to 2, 287 -> 20
      assert(byName("w1").qualityScores.contains("II#I5III"))
      // the ultra-long read's cycles past the packed range hit their cells
      assert(byName("ultra").qualityScores.get.takeRight(9).forall(_ != 'I'))
      assert(random.count(r => byName(r.readName.get) != r) > 150)
    }
  }

  test("Bqsr reads its input once and matches the two passes on the uncut input") {
    val rnd = new scala.util.Random(71)
    val reads = (0 until 200).map { i =>
      val seq = (0 until 30).map(_ => "ACGT"(rnd.nextInt(4))).mkString
      val quals = (0 until 30).map(_ => (48 + rnd.nextInt(30)).toChar).mkString
      val mm = rnd.nextInt(30)
      read(f"b$i%03d", rnd.nextInt(1000).toLong, seq, quals,
        s"${mm}A${29 - mm}", rg = "rg" + (i % 3))
        .copy(readNegativeStrand = Some(i % 2 == 0),
          readInFragment = Some(i % 4 / 2))
    }
    val mask = Bqsr.SnpMask(Seq(("chr1", 120L), ("chr1", 500L)))
    val upstream = spark.createDataset(reads).repartition(3)
    val seen = spark.sparkContext.longAccumulator("bqsr-input-rows")
    val counted = upstream.map { r => seen.add(1L); r }

    val out = Bqsr(counted, mask)
    assert(out.count() == reads.size)
    out.write.parquet(tmpDir() + "/recal")
    assert(seen.value == reads.size,
      s"${seen.value} input rows computed for ${reads.size} reads")

    // the same output, schema included, as both passes on the uncut input
    val want = Bqsr.recalibrate(upstream,
      Bqsr.observationTable(upstream, (ref, pos) => mask.contains(ref, pos)))
    assert(out.schema == want.schema)
    val byName = (ds: org.apache.spark.sql.Dataset[Alignment]) =>
      ds.toDF().collect().sortBy(_.getAs[String]("readName")).toSeq
    assert(byName(out) == byName(want))
    assert(byName(out).map(_.getAs[String]("qualityScores")) !=
      reads.sortBy(_.readName.get).map(_.qualityScores.get))
  }
}

object BqsrSpec {
  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  /** The per-read pass-2 body that `Bqsr.recalibrate` replaced: every read
    * deserialized, each base keyed by tuple and dinucleotide String. */
  def recalibrateOracle(
      reads: org.apache.spark.sql.Dataset[Alignment],
      table: Map[(String, Int, Int, String), (Long, Long)])
      : org.apache.spark.sql.Dataset[Alignment] = {
    val tableB = reads.sparkSession.sparkContext.broadcast(table)
    reads.map { r =>
      val seq = r.sequence.getOrElse("")
      val quals = r.qualityScores.getOrElse("")
      if (!r.readMapped.getOrElse(false) || quals.isEmpty || seq.isEmpty) r
      else {
        val neg = r.readNegativeStrand.getOrElse(false)
        val second = r.readInFragment.exists(_ != 0)
        val rg = r.readGroupId.getOrElse("")
        val t = tableB.value
        val sb = new StringBuilder(quals.length)
        var i = 0
        while (i < quals.length) {
          val q = quals.charAt(i) - 33
          val cycle = Bqsr.cycleAt(i, seq.length, neg, second)
          val dinuc = Bqsr.dinucAt(seq, i, neg)
          val newQ = t.get((rg, q, cycle, dinuc)) match {
            case Some((obs, mm)) => Bqsr.empiricalQuality(obs, mm)
            case None => q
          }
          sb.append((math.max(2, newQ) + 33).toChar)
          i += 1
        }
        r.copy(qualityScores = Some(sb.toString))
      }
    }
  }
}

class MdTaggingSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  test("tags reads against broadcast reference") {
    val contigs = ReferenceContigs(Map("chr1" -> "AAAACGTACGTACCCC"))
    val r = Alignment(readName = Some("a"), referenceName = Some("chr1"),
      start = Some(4L), end = Some(12L), cigar = Some("8M"),
      sequence = Some("CGTACGTA"), readMapped = Some(true))
    val mismatched = r.copy(readName = Some("b"), sequence = Some("CGTTCGTA"))
    val tagged = MdTagging.tagReads(
      spark.createDataset(Seq(r, mismatched)), contigs)
      .collect().map(a => a.readName.get -> a.mismatchingPositions.get).toMap
    assert(tagged("a") == "8")
    assert(tagged("b") == "3A4")
  }
}

class RealignIndelsSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  //                 0         1         2         3
  //                 0123456789012345678901234567890123456789
  private val ref = "AAAACCCCGGGGTTTTACGTACGTAAAACCCCGGGGTTTT"

  private def read(name: String, start: Long, seq: String, cigar: String,
      quals: Option[String] = None): Alignment =
    Alignment(readName = Some(name), referenceName = Some("chr1"),
      start = Some(start), end = Some(start + Cigar.referenceLength(cigar)),
      cigar = Some(cigar), sequence = Some(seq),
      qualityScores = Some(quals.getOrElse("I" * seq.length)),
      readMapped = Some(true), readNegativeStrand = Some(false))

  test("findTargets merges nearby indel spans") {
    val reads = spark.createDataset(Seq(
      read("a", 10L, "ACGTACGTAC", "4M2D6M"),   // D at [14,16)
      read("b", 12L, "ACGTACGTAC", "3M2D7M"),   // D at [15,17)
      read("c", 300L, "ACGTACGTAC", "5M1I5M"),  // I at 305 (approx 1-wide)
      // excluded inputs (r17: the mapped+cigar gate moved out of the
      // kernel into a declarative filter — pin each exclusion reason):
      read("x1", 500L, "ACGTACGTAC", "4M2D6M").copy(readMapped = Some(false)),
      read("x2", 510L, "ACGTACGTAC", "4M2D6M").copy(readMapped = None),
      read("x3", 520L, "ACGTACGTAC", "4M2D6M").copy(cigar = None)))
    val ts = RealignIndels.findTargets(reads, maxTargetGap = 50L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(ts.length == 2)
    assert(ts.contains(("chr1", 14L, 17L)))
    assert(ts.exists(t => t._2 == 305L))
  }

  test("realignTargetGroup moves mismatch-heavy reads onto the consensus") {
    // true sample has a 4-base deletion of ref[16,20) ("ACGT")
    val contigs = ReferenceContigs(Map("chr1" -> ref))
    // read1 carries the deletion in its cigar (the evidence read)
    val withDel = read("ev", 8L, "GGGGTTTTACGTAAAA", "8M4D8M")
    //   = ref[8,16) + ref[20,28) — matches the deletion haplotype exactly
    // read2 was force-aligned across the deletion without it: mismatches
    val seqNoDel = ref.substring(10, 16) + ref.substring(20, 30)
    val misaligned = read("mis", 10L, seqNoDel, "16M")
    val reads = Seq(withDel, misaligned)
    val out = RealignIndels.realignTargetGroup(
      reads, ReferenceRegion("chr1", 16, 20),
      refWindow = ref, windowStart = 0L, lodThreshold = 1.0)
    val mis = out.find(_.readName.contains("mis")).get
    assert(mis.cigar.get.contains("D"), s"expected indel cigar, got ${mis.cigar}")
    assert(mis.originalCigar.contains("16M"))
  }

  test("full pipeline leaves indel-free regions untouched") {
    val contigs = ReferenceContigs(Map("chr1" -> ref))
    val clean = (0 until 5).map(i =>
      read(s"c$i", i.toLong, ref.substring(i, i + 10), "10M"))
    val out = RealignIndels(spark.createDataset(clean), contigs).collect()
    assert(out.length == 5)
    assert(out.forall(_.cigar.get == "10M"))
    assert(out.forall(_.originalCigar.isEmpty))
  }

  test("pipeline never drops reads sharing (readName, start)") {
    // mate pairs with identical name+start, plus a primary+supplementary
    // pair at the same position: (readName, start) is NOT a read identity
    val contigs = ReferenceContigs(Map("chr1" -> ref))
    val twins = Seq(
      read("t", 10L, ref.substring(10, 20), "10M"),
      read("t", 10L, ref.substring(10, 20), "10M"),
      read("ev", 8L, "GGGGTTTTACGTAAAA", "8M4D8M"), // target evidence
      read("s", 12L, ref.substring(12, 22), "10M"),
      read("s", 12L, ref.substring(12, 22), "10M"))
    val out = RealignIndels(spark.createDataset(twins), contigs).collect()
    assert(out.length == twins.length,
      s"reads dropped: got ${out.length}, expected ${twins.length}")
    assert(out.count(_.readName.contains("t")) == 2)
    assert(out.count(_.readName.contains("s")) == 2)
  }

  test("Smith-Waterman consensus realigns without an evidence read") {
    // NO read carries the deletion in its CIGAR; the SW generator must
    // discover it from the force-aligned mismatching read itself
    val seqNoDel = ref.substring(10, 16) + ref.substring(20, 30)
    val misaligned = (0 until 3).map(i =>
      read(s"mis$i", 10L, seqNoDel, "16M"))
    val out = RealignIndels.realignTargetGroup(
      misaligned, ReferenceRegion("chr1", 16, 20),
      refWindow = ref, windowStart = 0L, lodThreshold = 1.0,
      useSmithWaterman = true)
    assert(out.exists(_.cigar.exists(_.contains("D"))),
      s"expected SW-derived deletion, got ${out.map(_.cigar)}")
  }

  test("known-indel consensus realigns without an evidence read") {
    val seqNoDel = ref.substring(10, 16) + ref.substring(20, 30)
    val misaligned = (0 until 3).map(i =>
      read(s"mis$i", 10L, seqNoDel, "16M"))
    val out = RealignIndels.realignTargetGroup(
      misaligned, ReferenceRegion("chr1", 16, 20),
      refWindow = ref, windowStart = 0L, lodThreshold = 1.0,
      knownIndels = Seq(RealignIndels.Consensus(16L, 20L, "")))
    assert(out.exists(_.cigar.exists(_.contains("D"))),
      s"expected known-indel deletion, got ${out.map(_.cigar)}")
  }

  test("findTargets picks up mismatch evidence from MD tags") {
    val reads = spark.createDataset(Seq(
      read("m", 100L, "ACGTACGTAC", "10M")
        .copy(mismatchingPositions = Some("4A5"))))
    val ts = RealignIndels.findTargets(reads, maxTargetGap = 50L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(ts.toSeq == Seq(("chr1", 104L, 105L)))
  }

  test("pipeline runs against a seek-based .fai reference (no genome in memory)") {
    val fa = java.nio.file.Files.createTempFile("graftref", ".fa")
    java.nio.file.Files.writeString(fa,
      ">chr1\n" + ref.grouped(60).mkString("\n") + "\n")
    val idx = graft.sources.Fai.open(spark, fa.toString)
    val withDel = read("ev", 8L, "GGGGTTTTACGTAAAA", "8M4D8M")
    val seqNoDel = ref.substring(10, 16) + ref.substring(20, 30)
    val misaligned = read("mis", 10L, seqNoDel, "16M")
    val out = RealignIndels(
      spark.createDataset(Seq(withDel, misaligned)), idx,
      lodThreshold = 1.0).collect()
    val mis = out.find(_.readName.contains("mis")).get
    assert(mis.cigar.exists(_.contains("D")),
      s"expected realignment against fai reference, got ${mis.cigar}")
  }

  test("read ending exactly at the alt boundary gets no trailing D/I") {
    // replacement consensus: ref[16,20) "ACGT" -> "GT". A read covering
    // exactly up to the end of the alt (after == 0) must emit plain M —
    // a trailing D is invalid SAM and would inflate `end` by the deletion.
    val seqToAltEnd = ref.substring(10, 16) + "GT" // hap[10,18), 8 bases
    val misaligned = read("mis", 10L, seqToAltEnd, "8M")
    val out = RealignIndels.realignTargetGroup(
      Seq(misaligned), ReferenceRegion("chr1", 16, 20),
      refWindow = ref, windowStart = 0L, lodThreshold = 1.0,
      knownIndels = Seq(RealignIndels.Consensus(16L, 20L, "GT")))
    val m = out.head
    assert(m.cigar.contains("8M"), s"expected 8M, got ${m.cigar}")
    assert(m.end.contains(18L), s"end must not be inflated: ${m.end}")

    // insertion consensus: "GG" inserted at 16; read ends at the end of
    // the insert -> trailing insert is soft-clipped, not a trailing I
    val seqToInsEnd = ref.substring(10, 16) + "GG"
    val mis2 = read("mis2", 10L, seqToInsEnd, "8M")
    val out2 = RealignIndels.realignTargetGroup(
      Seq(mis2), ReferenceRegion("chr1", 16, 16),
      refWindow = ref, windowStart = 0L, lodThreshold = 1.0,
      knownIndels = Seq(RealignIndels.Consensus(16L, 16L, "GG")))
    val m2 = out2.head
    assert(m2.cigar.exists(c => !c.endsWith("I") && !c.endsWith("D")),
      s"no trailing I/D allowed, got ${m2.cigar}")
  }

  test("consensus placements are per-read, not per-name") {
    // both 'mates' share a name; only the second matches the deletion
    // haplotype — the first must NOT inherit its mate's realignment
    val withDel = read("pair", 8L, "GGGGTTTTACGTAAAA", "8M4D8M")
    val cleanMate = read("pair", 24L, ref.substring(24, 34), "10M")
    val out = RealignIndels.realignTargetGroup(
      Seq(withDel, cleanMate), ReferenceRegion("chr1", 16, 20),
      refWindow = ref, windowStart = 0L, lodThreshold = 1.0)
    val clean = out.find(_.start.contains(24L))
    assert(clean.isDefined, "clean mate kept its own placement")
    assert(clean.get.cigar.contains("10M"))
  }
}

class PipeSpec extends SparkSpec {

  test("pipe through cat round-trips text") {
    import spark.implicits._
    import graft.operators.Pipe
    val ds = spark.createDataset(Seq("alpha", "beta", "gamma"))
    val out = Pipe.pipe(ds, Seq("cat"),
      Pipe.TextInFormatter, Pipe.TextOutFormatter)
    assert(out.collect().toSet == Set("alpha", "beta", "gamma"))
  }

  test("pipe through an awk transform") {
    import spark.implicits._
    import graft.operators.Pipe
    val ds = spark.createDataset((1 to 100).map(i => s"row$i"))
    val out = Pipe.pipe(ds, Seq("awk", "{print toupper($0)}"),
      Pipe.TextInFormatter, Pipe.TextOutFormatter)
    val got = out.collect()
    assert(got.length == 100)
    assert(got.forall(_.startsWith("ROW")))
  }

  test("pipe features through a filtering command") {
    import graft.operators.Pipe
    implicit val fe: org.apache.spark.sql.Encoder[Feature] = Encoders.product[Feature]
    val feats = spark.createDataset((0 until 20).map(i =>
      Feature(referenceName = Some("chr1"), start = Some(i * 10L),
        end = Some(i * 10L + 5L), name = Some(s"f$i"))))
    // keep rows whose start >= 100
    val out = Pipe.pipe(feats, Seq("awk", "-F", "\t", "$2 >= 100"),
      Pipe.BedInFormatter, Pipe.BedOutFormatter)
    val got = out.collect()
    assert(got.length == 10)
    assert(got.forall(_.start.exists(_ >= 100L)))
  }
}
