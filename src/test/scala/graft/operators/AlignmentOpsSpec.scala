package graft.operators

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.Encoders

class AlignmentOpsSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private def read(
      name: String, ref: String = "chr1", start: Long = 100L,
      cigar: String = "10M", qual: String = "IIIIIIIIII",
      negative: Boolean = false, mapped: Boolean = true,
      paired: Boolean = false, fragIdx: Int = 0,
      rg: String = "rg1"): Alignment =
    Alignment(
      readName = Some(name), referenceName = if (mapped) Some(ref) else None,
      start = if (mapped) Some(start) else None,
      end = if (mapped) Some(start + Cigar.referenceLength(cigar)) else None,
      cigar = if (mapped) Some(cigar) else None,
      sequence = Some("ACGTACGTAC"), qualityScores = Some(qual),
      readMapped = Some(mapped), readPaired = Some(paired),
      readNegativeStrand = Some(negative), readInFragment = Some(fragIdx),
      primaryAlignment = Some(true), secondaryAlignment = Some(false),
      supplementaryAlignment = Some(false), duplicateRead = Some(false),
      failedVendorQualityChecks = Some(false), readGroupId = Some(rg),
      mateMapped = if (paired) Some(true) else None)

  test("flagStat counts in one pass") {
    val reads = spark.createDataset(Seq(
      read("a", paired = true, fragIdx = 0),
      read("a", paired = true, fragIdx = 1, start = 200L),
      read("b", mapped = false),
      read("c").copy(duplicateRead = Some(true)),
      read("d").copy(failedVendorQualityChecks = Some(true))))
    val rows = AlignmentOps.flagStat(reads).collect()
    val pass = rows.find(!_.getAs[Boolean]("vendorFailed")).get
    val fail = rows.find(_.getAs[Boolean]("vendorFailed")).get
    assert(pass.getAs[Long]("total") == 4)
    assert(pass.getAs[Long]("mapped") == 3)
    assert(pass.getAs[Long]("paired") == 2)
    assert(pass.getAs[Long]("read1") == 1 && pass.getAs[Long]("read2") == 1)
    assert(pass.getAs[Long]("duplicates") == 1)
    assert(fail.getAs[Long]("total") == 1)
  }

  test("countKmers slides windows") {
    val reads = spark.createDataset(Seq(read("a"), read("b")))
    // sequence ACGTACGTAC, k=4 -> 7 kmers per read
    val km = AlignmentOps.countKmers(reads, 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(km.values.sum == 14L)
    assert(km("ACGT") == 4L) // positions 0 and 4 in each of 2 reads
    assert(km("CGTA") == 4L)
    assert(km("GTAC") == 4L)
    assert(km("TACG") == 2L)
  }

  test("toCoverage counts only mapped reads") {
    val reads = spark.createDataset(Seq(
      read("a", start = 0L, cigar = "5M"),
      read("b", start = 3L, cigar = "5M"),
      read("u", mapped = false)))
    val cov = AlignmentOps.toCoverage(reads).collect()
      .map(r => (r.getLong(1), r.getLong(3))).toMap
    assert(cov(0L) == 1L); assert(cov(3L) == 2L); assert(cov(4L) == 2L)
    assert(cov(7L) == 1L); assert(!cov.contains(8L))
  }

  test("toFragments groups by name; fragmentsToReads inverts") {
    val reads = spark.createDataset(Seq(
      read("a", paired = true, fragIdx = 0),
      read("a", paired = true, fragIdx = 1, start = 200L),
      read("b")))
    val frags = AlignmentOps.toFragments(reads).collect().sortBy(_.name)
    assert(frags.map(_.name.get).toSeq == Seq("a", "b"))
    assert(frags.head.alignments.length == 2)
    assert(frags.head.alignments.map(_.readInFragment.get) == Seq(0, 1))
    val back = AlignmentOps.fragmentsToReads(
      spark.createDataset(frags.toSeq)(Encoders.product[Fragment]))
    assert(back.count() == 3)
  }

  test("markDuplicates: same position pairs, highest quality survives") {
    // Three single-end reads at the same 5' position (one via clipping),
    // different base qualities; plus one at a different position.
    val dup1 = read("low", start = 100L, qual = "##########")   // score 0 (q=2<15)
    val dup2 = read("high", start = 100L, qual = "IIIIIIIIII")  // score 400
    val dup3 = read("clip", start = 102L, cigar = "2S8M",
      qual = "5555555555")                                      // 5'=100, q=20
    val other = read("other", start = 500L)
    val unmapped = read("um", mapped = false)
    val result = AlignmentOps.markDuplicates(
        spark.createDataset(Seq(dup1, dup2, dup3, other, unmapped)))
      .collect().map(r => r.readName.get -> r.duplicateRead.get).toMap
    assert(result("high") == false) // best score survives
    assert(result("low") == true)
    assert(result("clip") == true)
    assert(result("other") == false)
    assert(result("um") == false)
  }

  test("markDuplicates: paired fragments keyed by both ends") {
    def pair(name: String, s1: Long, s2: Long, qual: String) = Seq(
      read(name, start = s1, paired = true, fragIdx = 0, qual = qual),
      read(name, start = s2, paired = true, fragIdx = 1, qual = qual,
        negative = true))
    val reads = spark.createDataset(
      pair("p1", 100L, 300L, "IIIIIIIIII") ++  // dup group A, higher qual
        pair("p2", 100L, 300L, "5555555555") ++ // dup group A, lower qual
        pair("p3", 100L, 400L, "5555555555"))   // different right end
    val res = AlignmentOps.markDuplicates(reads).collect()
      .map(r => r.readName.get -> r.duplicateRead.get).toMap
    assert(res("p1") == false)
    assert(res("p2") == true)
    assert(res("p3") == false)
  }

  test("markDuplicates: unpaired fragments at a paired left position are duplicates") {
    // reference MarkDuplicates rule: when a paired fragment shares the left
    // 5' position, every unpaired fragment there is a duplicate — even one
    // scoring higher than the pair
    val p = Seq(
      read("pair", start = 100L, paired = true, fragIdx = 0, qual = "5555555555"),
      read("pair", start = 300L, paired = true, fragIdx = 1, qual = "5555555555",
        negative = true))
    val frag = read("frag", start = 100L, qual = "IIIIIIIIII")
    val lone = read("lone", start = 900L, qual = "IIIIIIIIII")
    val res = AlignmentOps.markDuplicates(
        spark.createDataset(p ++ Seq(frag, lone)))
      .collect().map(r => r.readName.get -> r.duplicateRead.get).toMap
    assert(res("pair") == false)
    assert(res("frag") == true) // out-scored by no one, still marked
    assert(res("lone") == false)
  }

  test("markDuplicates leaves a caller's own scratch-named columns alone") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val reads = spark.createDataset(Seq(
      read("low", start = 100L, qual = "##########"),
      read("high", start = 100L, qual = "IIIIIIIIII"),
      read("p", start = 300L, paired = true, fragIdx = 0),
      read("p", start = 500L, paired = true, fragIdx = 1, negative = true),
      read("q", start = 300L, paired = true, fragIdx = 0, qual = "5555555555"),
      read("q", start = 500L, paired = true, fragIdx = 1, negative = true,
        qual = "5555555555"),
      read("um", mapped = false)))
    def flags(ds: org.apache.spark.sql.Dataset[Alignment]) =
      ds.collect().map(r => (r.readName.get, r.readInFragment.get) -> r.duplicateRead.get).toMap
    val plain = flags(AlignmentOps.markDuplicates(reads))
    assert(plain.count(_._2) == 3) // low and both q reads
    val extra = reads.toDF()
      .withColumn("isDup", col("readName") === "high")
      .withColumn("__rg", concat(lit("caller-"), col("readName")))
      .as[Alignment]
    val marked = AlignmentOps.markDuplicates(extra)
    assert(flags(marked) == plain)
    assert(marked.columns.count(_ == "isDup") == 1)
    assert(marked.columns.count(_ == "__rg") == 1)
    val kept = marked.toDF()
      .select(col("readName"), col("readInFragment"), col("isDup"), col("__rg"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getString(3)))
    val want = extra.toDF()
      .select(col("readName"), col("readInFragment"), col("isDup"), col("__rg"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getString(3)))
    assert(kept.sorted.toSeq == want.sorted.toSeq)
  }

  test("markDuplicateFragments: shuffle-free path agrees with read path") {
    val dup1 = read("low", start = 100L, qual = "##########")
    val dup2 = read("high", start = 100L, qual = "IIIIIIIIII")
    val other = read("other", start = 500L)
    val reads0 = spark.createDataset(Seq(dup1, dup2, other))
    val frags = AlignmentOps.toFragments(reads0)
    val marked = AlignmentOps.markDuplicateFragments(frags)
    val byRead = AlignmentOps.fragmentsToReads(marked).collect()
      .map(r => r.readName.get -> r.duplicateRead.get).toMap
    assert(byRead == Map("low" -> true, "high" -> false, "other" -> false))
    // agrees with the read-level operator
    val viaReads = AlignmentOps.markDuplicates(reads0).collect()
      .map(r => r.readName.get -> r.duplicateRead.get).toMap
    assert(byRead == viaReads)
  }

  test("binQualities rewrites quality strings") {
    val reads = spark.createDataset(Seq(read("a", qual = "##II##II##")))
    val binned = AlignmentOps.binQualities(reads, Seq((0, 20, 10), (20, 50, 30)))
      .collect().head
    assert(binned.qualityScores.contains("++??++??++"))
  }
}
