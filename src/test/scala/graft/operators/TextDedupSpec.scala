package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("tokenCount handles whitespace edge cases") {
    import spark.implicits._
    val df = Seq("a b c", "  a   b  ", "", "   ", "one").toDF("text")
      .select(TextOps.tokenCount(col("text")).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 2, 0, 0, 1))
  }

  test("shinglesCol equals the Scala shingles definition (+distinct)") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b a b a b a b", "one two", "one", "", "   ",
      "Tabs\tand\nnewlines   collapse  here",
      "rep rep rep rep rep", null.asInstanceOf[String],
      "MiXeD CaSe ToKeNs MIXED case tokens")
    for (n <- Seq(1, 2, 3, 5)) {
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(col("id"), DedupOps.shinglesCol(col("text"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val ref = DedupOps.shingles(if (t == null) "" else t, n).distinct.toSeq
        assert(got(i.toLong) === ref, s"n=$n text=${Option(t)}")
      }
    }
  }

  test("minhashSignature equals the reference per-shingle loop (r16 rework)") {
    // r16 rewrote the UDF (char-streamed FNV, duplicate-shingle skip);
    // pin it against the direct shingles->fnv->splitmix formulation on
    // edge cases: repeated shingles, < n tokens, empty, odd whitespace
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b a b a b a b",          // every shingle repeats
      "x y z x y z x y z",        // repeats with period 3
      "one two", "one", "", "   ",
      "Tabs\tand\nnewlines   collapse  here",
      "MIXED Case TOKENS mixed case tokens")
    val n = 16
    val sn = 3
    def reference(text: String): Seq[Long] = {
      val sh = DedupOps.shingles(if (text == null) "" else text, sn)
      val sig = Array.fill(n)(Long.MaxValue)
      sh.foreach { s =>
        val base = DedupOps.fnv1a64(s)
        var j = 0
        while (j < n) {
          val h = DedupOps.splitmix64(base + j * 0x9e3779b97f4a7c15L)
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      sig.toSeq
    }
    import spark.implicits._
    val sig = DedupOps.minhashSignature(n, sn)
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), sig(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === reference(t), s"text: '$t'")
    }
  }

  test("langId picks dominant stopword language") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog is on the mat of doom"),
      (2L, "der Hund und die Katze ist der beste"),
      (3L, "le chat et la tortue est sur le tapis"),
      (4L, "xyzzy qwerty asdf"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.langId(col("text")).as("lang"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en"); assert(m(2L) == "de")
    assert(m(3L) == "fr"); assert(m(4L) == "und")
  }

  test("fingerprint normalizes whitespace and case") {
    import spark.implicits._
    val df = Seq("Hello  World", "hello world", " HELLO\tWORLD ")
      .toDF("text").select(TextOps.fingerprint(col("text")).as("fp"))
    assert(df.collect().map(_.getString(0)).distinct.length == 1)
  }

  test("exactDuplicates finds normalized groups") {
    val d = docs(
      (1L, "same text here"), (2L, "Same  TEXT here"), (3L, "unique one"),
      (4L, "same text here"))
    val groups = DedupOps.exactDuplicates(d, "doc_id", "text").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("canonical_id") == 1L)
    assert(groups.head.getAs[Long]("group_size") == 3L)
  }

  test("minhash: identical docs -> est 1.0; disjoint docs -> no pair") {
    val text1 = (1 to 30).map(i => s"word$i").mkString(" ")
    val text2 = (31 to 60).map(i => s"word$i").mkString(" ")
    val d = docs((1L, text1), (2L, text1), (3L, text2))
    val pairs = DedupOps.minhashNearDuplicates(
      d, "doc_id", "text", numHashes = 64, shingleN = 3, bands = 16,
      threshold = 0.9).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L)
    assert(pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Double]("est_jaccard") == 1.0)
  }

  test("exactDuplicatesAgainst finds incoming docs already in the index") {
    val corpus = docs((1L, "same text here"), (3L, "other content"),
      (5L, "Same  TEXT here")) // 1 and 5 share a fingerprint; min id = 1
    val incoming = docs((10L, "same text here"), (11L, "brand new content"))
    val idx = DedupOps.fingerprints(corpus, "doc_id", "text")
    val got = DedupOps.exactDuplicatesAgainst(incoming, idx, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L)))
  }

  test("minhashNearDuplicatesAgainst == self-join restricted to cross-slice") {
    import scala.util.Random
    val rnd = new Random(17)
    // clusters of near-identical docs spread across both slices + noise
    val rows = (0 until 5).flatMap { g =>
      val base = (1 to 40).map(_ => s"t${rnd.nextInt(60)}")
      (0 until 3).map { m =>
        val words = if (m == 0) base else base.updated(rnd.nextInt(40), s"x$m")
        (g * 10L + m, words.mkString(" "))
      }
    } ++ (100L until 115L).map(i =>
      (i, (1 to 40).map(_ => s"n${rnd.nextInt(5000)}").mkString(" ")))
    val d = docs(rows: _*)
    val incoming = d.filter(col("doc_id") % 2 === 0)
    val corpus = d.filter(col("doc_id") % 2 =!= 0)
    val index = DedupOps.minhashSignatures(corpus, "doc_id", "text", 64, 2)
    val got = DedupOps.minhashNearDuplicatesAgainst(
        incoming, index, "doc_id", "text", 64, 2, bands = 16, threshold = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the self-join over everything, keeping (even, odd) pairs
    val self = DedupOps.minhashNearDuplicates(
        d, "doc_id", "text", 64, 2, bands = 16, threshold = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = self.flatMap { case (a, b, e) =>
      Seq((a, b, e), (b, a, e)) // against output is (incoming, corpus)
    }.filter { case (i, c, _) => i % 2 == 0 && c % 2 != 0 }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "clusters must straddle the slices")
  }

  test("simhashNearDuplicatesAgainst == self-join restricted to cross-slice") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = t1.replace("dog", "cat") // small hamming perturbation
    val t3 = "completely unrelated words describing entirely other topics"
    val d = docs((0L, t1), (1L, t1), (2L, t2), (3L, t3), (4L, t2), (5L, t3))
    val incoming = d.filter(col("doc_id") % 2 === 0)
    val index = DedupOps.simhashSignatures(
      d.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    val got = DedupOps.simhashNearDuplicatesAgainst(
        incoming, index, "doc_id", "text", maxDist = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    val self = DedupOps.simhashNearDuplicates(d, "doc_id", "text", maxDist = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    val expected = self.flatMap { case (a, b, h) => Seq((a, b, h), (b, a, h)) }
      .filter { case (i, c, _) => i % 2 == 0 && c % 2 != 0 }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("minhash estimate approximates true jaccard") {
    // 80 shared + 20 distinct shingle-words each side
    val shared = (1 to 80).map(i => s"w$i")
    val a = (shared ++ (1 to 20).map(i => s"a$i")).mkString(" ")
    val b = (shared ++ (1 to 20).map(i => s"b$i")).mkString(" ")
    val d = docs((1L, a), (2L, b))
    val pairs = DedupOps.minhashNearDuplicates(
      d, "doc_id", "text", numHashes = 128, shingleN = 1, bands = 32,
      threshold = 0.1).collect()
    assert(pairs.length == 1)
    val est = pairs.head.getAs[Double]("est_jaccard")
    val trueJ = 80.0 / 120.0
    assert(math.abs(est - trueJ) < 0.15, s"est=$est true=$trueJ")
  }

  test("simhash: identical docs at hamming 0") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs((1L, t), (2L, t), (3L, "completely different content words entirely distinct"))
    val pairs = DedupOps.simhashNearDuplicates(d, "doc_id", "text", maxDist = 2)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getAs[Int]("hamming") == 0)
  }

  test("ngramJaccard exact on known sets") {
    import spark.implicits._
    val d = docs((1L, "a b c d"), (2L, "a b c e"))
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = DedupOps.ngramJaccard(d, cand, "doc_id", "text", shingleN = 1)
      .collect().head.getAs[Double]("jaccard")
    assert(j == 3.0 / 5.0) // {a,b,c} shared of {a,b,c,d,e}
  }

  test("clusterDuplicates matches union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(149)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = (0 until 150).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val got = DedupOps.clusterDuplicates(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // in-memory union-find
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map { x =>
        val root = find(x)
        // canonical = min member of the component
        x -> nodes.filter(find(_) == root).min
      }.toMap
      assert(got == want, s"trial $trial: ${got.toSeq.diff(want.toSeq).take(5)}")
    }

    // long chain: multi-hop propagation converges to one component
    val chain = (0L until 30L).map(i => (i, i + 1))
    val cc = DedupOps.clusterDuplicates(chain.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(1)).distinct
    assert(cc.toSeq == Seq(0L), "a 31-node chain is one component rooted at 0")
  }

  test("clusterDuplicates: the stop test adds no job to a round") {
    import spark.implicits._
    // two components: a 5-chain and a triangle; 3 rounds to converge
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("id_a", "id_b")
    var cc: Seq[(Long, Long)] = Nil
    val jobs = jobsDuring {
      cc = DedupOps.clusterDuplicates(pairs).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(cc.map(_._2) == Seq.fill(5)(1L) ++ Seq.fill(3)(10L))
    // 2 rounds (the second lowers no label): a stop test run as a job of
    // its own, after each round's cut, made this 25
    assert(jobs == 23, s"clusterDuplicates ran $jobs jobs")
    // no pair at all: the seed labels are empty and the first round stops
    assert(DedupOps.clusterDuplicates(pairs.limit(0)).count() == 0)
  }

  test("jaccardSimilarityJoin: prefix filter finds exactly the brute-force pairs") {
    import spark.implicits._
    // random docs from a small vocabulary so near-duplicates exist
    val rnd = new scala.util.Random(113)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = (0 until 60).map { i =>
      (i.toLong, Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    // sprinkle true near-duplicates: copies with one word changed
    val nearDups = base.take(15).map { case (id, text) =>
      val w = text.split(" ")
      w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
      (id + 1000L, w.mkString(" "))
    }
    val d = docs((base ++ nearDups): _*)

    for (t <- Seq(0.3, 0.5, 0.8); n <- Seq(1, 2, 3)) {
      val fast = DedupOps.jaccardSimilarityJoin(d, "doc_id", "text",
          shingleN = n, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
      // brute force: every pair, exact jaccard
      val sets = (base ++ nearDups).map { case (id, text) =>
        id -> DedupOps.shingles(text, n).distinct.toSet
      }.filter(_._2.nonEmpty)
      val slow = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = (sa & sb).size
        union = (sa | sb).size
        if union > 0 && inter >= t * union
      } yield (ia, ib, inter.toLong, union.toLong)).toSet
      assert(fast == slow,
        s"t=$t n=$n: missing=${slow -- fast} extra=${fast -- slow}")
      assert(slow.nonEmpty || t > 0.5, s"t=$t n=$n degenerate test")
    }
  }

  test("contaminationHits counts distinct shared n-grams; dropContaminated removes them") {
    import spark.implicits._
    val corpus = docs(
      // shares "the quick brown fox" (two distinct 3-grams with bench)
      (1L, "the quick brown fox jumps high"),
      // shares one 3-gram, repeated — distinct-counted once
      (2L, "lazy dog sleeps lazy dog sleeps lazy dog sleeps"),
      (3L, "completely unrelated words only here"))
    val bench = Seq("the quick brown fox", "lazy dog sleeps a lot")
      .toDF("bench_text")

    val hits = TextOps.contaminationHits(
        corpus, bench, "doc_id", "text", "bench_text", ngramN = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L, 2L -> 1L))

    val kept = TextOps.dropContaminated(
        corpus, bench, "doc_id", "text", "bench_text", ngramN = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))

    // minHits raises the bar: doc 2 (one shared gram) survives
    val kept2 = TextOps.dropContaminated(
        corpus, bench, "doc_id", "text", "bench_text", ngramN = 3, minHits = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(2L, 3L))
  }

  test("contaminationHitsBloom equals the exact operator (no false negatives)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 60).map(i => s"w$i")
    val corpus = docs((1 to 300).map { i =>
      (i.toLong, Seq.fill(8 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }: _*)
    val bench = (1 to 40)
      .map(_ => Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      .toDF("bench_text")

    for (ngramN <- Seq(3, 5); minHits <- Seq(1, 2)) {
      val exact = TextOps.contaminationHits(
          corpus, bench, "doc_id", "text", "bench_text", ngramN, minHits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bloom = TextOps.contaminationHitsBloom(
          corpus, bench, "doc_id", "text", "bench_text", ngramN, minHits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bloom == exact, s"ngramN=$ngramN minHits=$minHits")
      // and with a deliberately tiny filter (high FP rate) it is STILL
      // exact — false positives only widen the verify join
      val tiny = TextOps.contaminationHitsBloom(
          corpus, bench, "doc_id", "text", "bench_text", ngramN, minHits,
          bitsPerGram = 1, numProbes = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(tiny == exact, s"tiny filter ngramN=$ngramN minHits=$minHits")
    }
  }

  test("packTokenSpans: spans tile each sequence exactly and cover each doc") {
    val rnd = new scala.util.Random(7)
    val data = (1 to 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(s"w${rnd.nextInt(100)}").mkString(" "))
    }
    val tokenCounts = data.map { case (id, t) =>
      id -> t.split("\\s+").count(_.nonEmpty).toLong
    }.toMap
    val seqLen = 32
    val spans = TextOps.packTokenSpans(docs(data: _*), "doc_id", "text", seqLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // every document's spans cover [0, n) contiguously
    spans.groupBy(_._1).foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"doc $id starts at ${sorted.head._3}")
      sorted.sliding(2).foreach {
        case Array((_, _, o1, l1), (_, _, o2, _)) =>
          assert(o1 + l1 == o2, s"doc $id gap at $o2")
        case _ =>
      }
      assert(sorted.map(_._4).sum == tokenCounts(id), s"doc $id length")
    }
    assert(spans.map(_._1).toSet == tokenCounts.filter(_._2 > 0).keySet)

    // every sequence except the last holds exactly seqLen tokens
    val total = tokenCounts.values.sum
    val bySeq = spans.groupBy(_._2).map { case (s, ss) => s -> ss.map(_._4).sum }
    val lastSeq = (total - 1) / seqLen
    bySeq.foreach { case (s, n) =>
      if (s < lastSeq) assert(n == seqLen, s"seq $s has $n tokens")
      else assert(n == total - lastSeq * seqLen)
    }
    assert(bySeq.keySet == (0L to lastSeq).toSet)

    // spans match the single-threaded reference layout exactly
    var off = 0L
    val expected = data.sortBy(_._1).flatMap { case (id, _) =>
      val n = tokenCounts(id)
      val out = (off / seqLen to (off + n - 1) / seqLen).map { s =>
        val lo = math.max(off, s * seqLen)
        val hi = math.min(off + n, (s + 1) * seqLen)
        (id, s, lo - off, hi - lo)
      }
      off += n
      out.filter(_ => n > 0)
    }
    assert(spans.toSet == expected.toSet)
  }

  test("repetitionStats matches hand-computed Gopher numerators") {
    val d = docs(
      // "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] -> top "a b" x3
      // covers 3*2=6 chars; tokens 6, distinct 2, chars 6
      (1L, "a b a b a b"),
      // no repeated grams; 5 distinct tokens
      (2L, "one two three four five"),
      // shorter than 2 tokens: top2 = 0
      (3L, "single"),
      (4L, ""),
      // dup5: "x y z w v" appears twice (count 2, 5 chars + 4 spaces ->
      // gramChars 5): contributes 2*5 = 10
      (5L, "x y z w v q x y z w v"))
    val m = d.select(col("doc_id"), TextOps.repetitionStats(col("text")).as("r"))
      .select("doc_id", "r.n_tokens", "r.n_distinct_tokens", "r.tok_chars",
        "r.top2_chars", "r.top3_chars", "r.dup5_chars", "r.dup10_chars")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap

    // doc1: top2 = "a b" x3 * 2 chars = 6; top3 = "a b a" x2 * 3 = 6
    // (tie with "b a b" x2 breaks lexicographically); both 5-grams unique.
    assert(m(1L) == ((6L, 2L, 6L, 6L, 6L, 0L, 0L)))
    // doc2: all grams unique (count 1); top2 tie -> smallest gram
    // "four five" (8 chars), top3 -> "one two three" (11 chars)
    assert(m(2L) == ((5L, 5L, 19L, 8L, 11L, 0L, 0L)))
    assert(m(3L) == ((1L, 1L, 6L, 0L, 0L, 0L, 0L)))
    assert(m(4L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    assert(m(5L)._6 == 10L) // dup5_chars
  }

  test("redactPii scrubs emails, IPs, phones and counts hits") {
    import spark.implicits._
    val rows = Seq(
      "write to alice.smith+x@corp.example.org or bob@ex.io today",
      "server 192.168.0.1 and 10.0.0.254 up",
      "call 25-989-741-2988 now",
      "no pii here at all",
      "mixed a@b.co 1.2.3.4 99-123-456-7890 end")
      .toDF("text")
      .select(TextOps.redactPii(col("text")).as("red"),
        TextOps.piiCounts(col("text")).as("c"))
      .select("red", "c.n_emails", "c.n_ips", "c.n_phones")
      .collect()
    assert(rows(0).getString(0) == "write to <EMAIL> or <EMAIL> today")
    assert(rows(0).getLong(1) == 2L)
    assert(rows(1).getString(0) == "server <IP> and <IP> up")
    assert(rows(1).getLong(2) == 2L)
    assert(rows(2).getString(0) == "call <PHONE> now")
    assert(rows(2).getLong(3) == 1L)
    assert(rows(3).getString(0) == "no pii here at all")
    assert((rows(3).getLong(1), rows(3).getLong(2), rows(3).getLong(3)) == ((0L, 0L, 0L)))
    assert(rows(4).getString(0) == "mixed <EMAIL> <IP> <PHONE> end")
  }

  test("stratifiedSample is deterministic and respects per-stratum rates") {
    import spark.implicits._
    val df = (1L to 20000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "s")
    val sampled = SamplingOps.stratifiedSample(
      df, "s", "id", Map("a" -> 0.5, "b" -> 0.1), defaultRate = 0.0)
    val counts = sampled.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 10k per stratum; hash-uniform keep ~5000 / ~1000 (3-sigma bounds)
    assert(math.abs(counts("a") - 5000L) < 250, s"a=${counts("a")}")
    assert(math.abs(counts("b") - 1000L) < 120, s"b=${counts("b")}")
    // deterministic: same ids on re-run
    val again = SamplingOps.stratifiedSample(
      df.repartition(7), "s", "id", Map("a" -> 0.5, "b" -> 0.1), 0.0)
    assert(again.select("id").collect().map(_.getLong(0)).toSet ==
      sampled.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("mixToWeights hits target mixture; bottleneck stratum kept whole") {
    import spark.implicits._
    // 8000 a / 1500 b / 500 c, target 50/25/25 -> bottleneck c (500/0.25
    // = 2000 = T), rates: a 0.125, b 1/3, c 1.0
    val df = ((1L to 8000L).map((_, "a")) ++ (8001L to 9500L).map((_, "b")) ++
      (9501L to 10000L).map((_, "c"))).toDF("id", "s")
    val rates = SamplingOps.mixingRates(df, "s",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toList
    val rm = rates.map(r => r._1 -> r._3).toMap
    assert(math.abs(rm("a") - 0.125) < 1e-12)
    assert(math.abs(rm("b") - 1.0 / 3) < 1e-12)
    assert(rm("c") == 1.0)

    val mixed = SamplingOps.mixToWeights(df, "s", "id",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    val counts = mixed.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("c") == 500L) // rate 1.0 — every row kept
    assert(math.abs(counts("a") - 1000L) < 120, s"a=${counts("a")}")
    assert(math.abs(counts("b") - 500L) < 90, s"b=${counts("b")}")
  }

  test("hashSplit partitions rows; assignment survives corpus growth") {
    import spark.implicits._
    val df = (1L to 10000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = SamplingOps.hashSplit(df, "id", splits, salt = "s1")
      .select("id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // every row assigned exactly once; proportions near nominal (3-sigma)
    assert(got.length == 10000)
    val counts = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 8000) < 160, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 1000) < 120, s"val=${counts("val")}")
    assert(math.abs(counts("test") - 1000) < 120, s"test=${counts("test")}")
    // growth-stable: the first 1000 rows keep their assignment when the
    // other 9000 arrive (the property randomSplit lacks)
    val sub = SamplingOps.hashSplit((1L to 1000L).toDF("id"), "id", splits,
      salt = "s1").select("id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.filter(_._1 <= 1000L).foreach { case (id, s) =>
      assert(sub(id) == s, s"id=$id moved from ${sub(id)} to $s")
    }
    // bad fractions rejected
    intercept[IllegalArgumentException] {
      SamplingOps.hashSplit(df, "id", Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("leakSafeSplit: no near-dup pair ever crosses a split boundary") {
    import spark.implicits._
    val splits = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val ids = (1L to 2000L).toDF("doc_id")
    // chains 1-2-3, 10-11, and a big star 100..120 around 100 — clusters
    // that a naive per-row split would scatter across folds
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (101L to 120L).map(i => (100L, i))).toDF("id_a", "id_b")
    val got = SamplingOps.leakSafeSplit(ids, "doc_id", pairs, splits,
      salt = "lk").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // every paired duo shares a split (transitively through clusters)
    (Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)) ++
      (101L to 120L).map(i => (100L, i))).foreach { case (a, b) =>
      assert(got(a)._2 === got(b)._2, s"pair ($a,$b) split apart")
      assert(got(a)._1 === got(b)._1)
    }
    // cluster keys are the min member; singletons key on themselves
    assert(got(3L)._1 === 1L)
    assert(got(120L)._1 === 100L)
    assert(got(500L)._1 === 500L)
    // singleton assignment is exactly hashSplit on the id — stable vs the
    // plain splitter, so adding pairs later never moves unpaired docs
    val plain = SamplingOps.hashSplit(ids, "doc_id", splits, salt = "lk")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.filter { case (id, (ck, _)) => ck == id }.foreach {
      case (id, (_, s)) => assert(plain(id) === s)
    }
    // all three splits are actually populated
    assert(got.values.map(_._2).toSet === Set("train", "val", "test"))
  }

  test("temperatureMix: alpha=1 is natural, lower alpha up-weights small strata") {
    import spark.implicits._
    val df = ((1L to 8000L).map((_, "big")) ++ (8001L to 9000L).map((_, "small")))
      .toDF("id", "s")
    // alpha=1: w_s = n_s/N, so rate_s = T/N for every stratum — the keep
    // fraction is uniform and stratum-independent
    val w1 = SamplingOps.temperatureWeights(df, "s", alpha = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(w1("big") - 8.0 / 9.0) < 1e-9)
    assert(math.abs(w1("small") - 1.0 / 9.0) < 1e-9)
    // alpha=0.5: sqrt scaling shifts weight toward the small stratum
    val w5 = SamplingOps.temperatureWeights(df, "s", alpha = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(w5("small") > w1("small") && w5("big") < w1("big"))
    assert(math.abs(w5("small") - math.sqrt(1000.0) /
      (math.sqrt(8000.0) + math.sqrt(1000.0))) < 1e-6)
    // materialized mix: per-stratum keep fraction tracks rate_s = w_s*T/n_s
    val mixed = SamplingOps.temperatureMix(df, "s", "id", alpha = 0.5,
      targetRows = 900L)
    val counts = mixed.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expBig = w5("big") * 900.0
    val expSmall = w5("small") * 900.0
    assert(math.abs(counts("big") - expBig) < 4 * math.sqrt(expBig),
      s"big=${counts("big")} exp=$expBig")
    assert(math.abs(counts("small") - expSmall) < 4 * math.sqrt(expSmall),
      s"small=${counts("small")} exp=$expSmall")
    // partition-invariant determinism
    val again = SamplingOps.temperatureMix(df.repartition(13), "s", "id",
      alpha = 0.5, targetRows = 900L)
    assert(again.select("id").collect().map(_.getLong(0)).toSet ==
      mixed.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("contaminationReport: fraction threshold flags short-heavy overlap only") {
    import spark.implicits._
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("btext")
    val corpus = Seq(
      // doc 1: 5 tokens of pure benchmark text -> 3 of 3 trigrams shared
      (1L, "quick brown fox jumps over"),
      // doc 2: long doc, 2 shared trigrams out of many
      (2L, "quick brown fox jumps " + (1 to 40).map(i => s"w$i").mkString(" ")),
      // doc 3: disjoint
      (3L, "completely different text here")).toDF("doc_id", "text")
    val byId = graft.operators.TextOps.contaminationReport(
        corpus, bench, "doc_id", "text", "btext", ngramN = 3,
        maxFraction = 0.2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(byId(1L) == ((3L, 3L, true)))   // 100% overlap -> contaminated
    assert(byId(2L)._2 == 2L && !byId(2L)._3) // 2 hits, long doc -> clean
    assert(byId(3L) == ((2L, 0L, false)))
    // n_hits agrees with contaminationHits for flagged docs
    val hits = graft.operators.TextOps.contaminationHits(
        corpus, bench, "doc_id", "text", "btext", ngramN = 3, minHits = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(1L) == 3L && hits(2L) == 2L && !hits.contains(3L))
  }

  test("winnowingFingerprints matches a brute-force replay and its guarantee") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val alpha = "abcdefgh "
    def randText(n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val shared = "the shared stretch of text here" // >= w+k-1 = 13 chars
    val docs = Seq(
      (1L, randText(80) + shared + randText(80)),
      (2L, randText(90) + shared + randText(60)),
      (3L, randText(120)),                         // no planted overlap
      (4L, "tiny"),                                // < k -> nothing
      (5L, "ababababab"))                          // repeated grams -> ties
      .toDF("id", "text")
    val k = 8; val w = 6
    val got = TextOps.winnowingFingerprints(docs, "id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // driver-side brute force: rightmost min per window, distinct
    def brute(text: String): Set[(Long, Long)] = {
      val t = text.trim.toLowerCase.replaceAll("\\s+", " ")
      val hn = t.length - k + 1
      if (hn < 1) Set.empty
      else (0 to math.max(hn - w, 0)).map { j =>
        val win = (j until math.min(j + w, hn))
          .map(i => (DedupOps.fnv1a64(t.substring(i, i + k)), i))
        val (bh, bi) = win.minBy { case (h, i) => (h, -i) }
        (bi + 1L, bh)
      }.toSet
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (id <- texts.keys)
      assert(got.filter(_._1 == id).map(t => (t._2, t._3)).toSet ==
        brute(texts(id)), s"doc $id")
    assert(!got.exists(_._1 == 4L))
    // the winnowing guarantee: docs 1 and 2 share >= w+k-1 chars, so they
    // share at least one fingerprint VALUE
    val f1 = got.filter(_._1 == 1L).map(_._3).toSet
    val f2 = got.filter(_._1 == 2L).map(_._3).toSet
    assert((f1 intersect f2).nonEmpty)
  }

  test("winnowingNearDuplicates finds planted overlaps; docFreq suppression prunes boilerplate") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val alpha = "abcdefgh "
    def randText(n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val shared = "a long shared stretch of very specific text in both documents"
    val boiler = "standard footer text appended to every single document here"
    val docs = Seq(
      (1L, randText(100) + shared + boiler),
      (2L, randText(110) + shared + boiler)) ++
      (10L until 40L).map(i => (i, randText(130) + boiler))
    val df = docs.toDF("id", "text")
    // without suppression every doc pairs with every other via the footer
    val loose = TextOps.winnowingNearDuplicates(df, "id", "text",
        minShared = 2, maxDocFreq = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((1L, 2L)))
    assert(loose.size > 100, s"footer should link most pairs: ${loose.size}")
    // footer fingerprints live in all 32 docs; cap at 10 -> only the
    // genuinely shared stretch links 1-2
    val tight = TextOps.winnowingNearDuplicates(df, "id", "text",
        minShared = 2, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((1L, 2L)), s"tight=$tight")
    spark.catalog.clearCache()
  }

  test("contentDefinedChunks: boundaries follow content; insertion shifts one chunk") {
    import spark.implicits._
    val text = (1 to 120).map(i => s"token$i word$i item$i").mkString(" ")
    val edited = "INSERTED PREFIX CHANGES OFFSETS " + text
    val df = Seq((1L, text), (2L, edited)).toDF("doc_id", "text")
    val chunks = DedupOps.contentDefinedChunks(df, "doc_id", "text",
      window = 8, maskBits = 5)
    val byDoc = chunks.collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => r.getString(4)).toSet).toMap
    // chunks reassemble the document exactly, in order
    val reassembled = chunks.filter(col("doc_id") === 1L)
      .orderBy("chunk_idx").collect().map(_.getString(4)).mkString
    assert(reassembled === text)
    // offsets differ by 32 chars everywhere, yet MOST chunks are shared —
    // the content-defined property fixed-size chunking cannot have
    val shared = byDoc(1L).intersect(byDoc(2L)).size
    assert(shared >= byDoc(1L).size - 2,
      s"shared $shared of ${byDoc(1L).size} original chunks")
    // and the chunk report counts exactly those shared chunks once
    val rep = DedupOps.chunkDedupReport(chunks).collect().head
    assert(rep.getLong(0) === byDoc(1L).size + byDoc(2L).size)
    assert(rep.getLong(2) === shared.toLong,
      "every shared chunk is one saved duplicate")
  }

  test("contentDefinedChunks: block-decomposed positions are seamless " +
      "across the 4096 boundary") {
    import spark.implicits._
    // a document spanning several position blocks; cut candidates are
    // generated per 4096-position block, and the result must be identical
    // to the one-array definition: chunks reassemble exactly and a short
    // doc (< one block) still chunks
    val big = (1 to 900).map(i => s"al$i beta$i gamma$i").mkString(" ")
    assert(big.length > 3 * 4096)
    val df = Seq((1L, big), (2L, big.take(100)), (3L, "tiny")).toDF("doc_id", "text")
    val chunks = DedupOps.contentDefinedChunks(df, "doc_id", "text",
      window = 8, maskBits = 5)
    val rows = chunks.collect()
    for (id <- Seq(1L, 2L, 3L)) {
      val mine = rows.filter(_.getLong(0) == id).sortBy(_.getLong(1))
      val text = Seq(big, big.take(100), "tiny")(id.toInt - 1)
      assert(mine.map(_.getString(4)).mkString === text, s"doc $id")
      // positions/lengths are consistent with the reassembly
      assert(mine.map(_.getLong(3)).sum === text.length.toLong)
      var p = 1L
      mine.foreach { r =>
        assert(r.getLong(2) === p); p += r.getLong(3)
      }
    }
    // the big doc actually produced multiple chunks (cuts fired in blocks
    // beyond the first)
    val bigCuts = rows.filter(_.getLong(0) == 1L)
    assert(bigCuts.length > 4)
    assert(bigCuts.map(_.getLong(2)).max > 4096L,
      "at least one boundary beyond the first position block")
  }

  test("weightedSample equals a driver replay; heavier rows win more") {
    import spark.implicits._
    // weights 1..200: expected inclusion probability proportional to w
    val rows = (1L to 200L).map(i => (i, i.toDouble))
    val df = rows.toDF("id", "w")
    val got = SamplingOps.weightedSample(df, "id", "w", k = 50, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // driver replay of the exact quantized exponential race
    val ref = rows.map { case (id, w) =>
      val bits = DedupOps.fnv1a64(s"$id:t") >>> 11
      val u = (bits.toDouble + 0.5) / 9007199254740992.0
      val lnq = math.floor(math.log(1.0 / u) * 1e6 + 0.5).toLong
      val wq = math.floor(w * 1e6 + 0.5).toLong
      (id, wq, lnq * 1000000L / wq)
    }.filter(_._2 > 0).sortBy(t => (t._3, t._1)).take(50).sortBy(_._1)
    assert(got.toSeq === ref)
    // proportionality: the heavy half wins far more than the light half
    val heavy = got.count(_._1 > 100)
    assert(heavy > 30, s"heavy-half winners: $heavy of 50")
    // partition invariance
    val again = SamplingOps.weightedSample(df.repartition(13), "id", "w",
      k = 50, salt = "t").collect().map(_.getLong(0)).sorted
    assert(again.toSeq === got.map(_._1).toSeq)
  }

  test("zScoreOutliers: flags exactly the rows beyond k sigma (exact replay)") {
    import spark.implicits._
    // group a: tight cluster + two planted spikes; group b: constant
    val a = Seq.fill(50)(10.0) ++ Seq(10.5, 9.5) ++ Seq(500.0, -480.0)
    val vals = a.map(("a", _)) ++ Seq.fill(20)(("b", 7.77))
    val got = graft.operators.Stats.zScoreOutliers(
        vals.toDF("g", "v"), "g", "v", kPermille = 3000L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // exact integer replay
    val cents = a.map(v => math.floor(v * 100 + 0.5).toLong)
    val n = cents.size.toLong
    val s = cents.sum
    val q = cents.map(c => c * c).sum
    val nOut = cents.count { c =>
      val d = BigInt(c * n - s)
      d * d * 1000000 > BigInt(3000L * 3000L) * (BigInt(n) * q - BigInt(s) * s)
    }.toLong
    assert(got("a") === ((n, nOut)))
    assert(nOut === 2L, "exactly the two planted spikes")
    // zero variance group: inequality is strict, nothing flags
    assert(got("b") === ((20L, 0L)))
  }

  test("quotaSample: exactly n per stratum, hash-prefix-stable, partition-invariant") {
    import spark.implicits._
    val df = ((1L to 5000L).map((_, "a")) ++ (5001L to 5012L).map((_, "b")))
      .toDF("id", "s")
    val got = SamplingOps.quotaSample(df, "s", "id", n = 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2 == "a") == 100)
    assert(got.count(_._2 == "b") == 12) // stratum smaller than the quota
    val again = SamplingOps.quotaSample(df.repartition(7), "s", "id", n = 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet == again.toSet)
    // hash-order sampling nests: the 100-sample is a prefix of the 150-sample
    val wider = SamplingOps.quotaSample(df, "s", "id", n = 150)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.toSet.subsetOf(wider))
  }

  test("quotaSample and hashSplit leave a caller's own scratch-named columns alone") {
    import spark.implicits._
    val plain = (1L to 3000L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "s")
    // the names the two operators use for their own scratch columns
    val mine = plain
      .withColumn("__u", concat(lit("mine-"), col("id").cast("string")))
      .withColumn("__r1", lit(-1))
    val sampled = SamplingOps.quotaSample(mine, "s", "id", n = 50)
    assert(sampled.columns.toSeq == mine.columns.toSeq)
    val got = sampled.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(got.forall { case (id, _, u, r1) => u == s"mine-$id" && r1 == -1 })
    val want = SamplingOps.quotaSample(plain, "s", "id", n = 50).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(want.size == 100)
    assert(got.map(t => (t._1, t._2)).toSet == want)

    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val split = SamplingOps.hashSplit(mine, "id", splits)
    assert(split.columns.toSeq == mine.columns.toSeq :+ "split")
    val gotSplit = split.collect().map(r =>
      (r.getLong(0), r.getAs[String]("__u"), r.getAs[String]("split")))
    assert(gotSplit.forall { case (id, u, _) => u == s"mine-$id" })
    val wantSplit = SamplingOps.hashSplit(plain, "id", splits)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(gotSplit.map(t => t._1 -> t._3).toMap == wantSplit.toMap)
    assert(wantSplit.map(_._2).distinct.length == 3)
  }

  test("materializeEpochs repeats under-sized strata with tagged epochs") {
    import spark.implicits._
    val df = ((1L to 100L).map((_, "hot")) ++ (101L to 1100L).map((_, "cold"))
      ++ (1101L to 1200L).map((_, "dropme"))).toDF("id", "s")
    // budget 1000: hot 0.5 -> 500/100 = 5.0 epochs exactly; cold 0.5 ->
    // 500/1000 = 0.5 epochs (pure fractional sample); dropme unweighted
    val out = SamplingOps.materializeEpochs(df, "s", "id",
        Map("hot" -> 0.5, "cold" -> 0.5), targetRows = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hot = out.filter(_._1 == "hot")
    assert(hot.length == 500) // integral epochs: every row exactly 5 times
    assert(hot.groupBy(_._2).forall(_._2.map(_._3).sorted.toSeq == (0L to 4L)))
    val cold = out.filter(_._1 == "cold")
    assert(cold.forall(_._3 == 0L))
    assert(math.abs(cold.length - 500) < 80, s"cold=${cold.length}")
    assert(!out.exists(_._1 == "dropme"))
    // deterministic under repartitioning
    val again = SamplingOps.materializeEpochs(df.repartition(5), "s", "id",
        Map("hot" -> 0.5, "cold" -> 0.5), targetRows = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
  }

  test("dsirWeights scores target-like docs above junk and selects them") {
    import spark.implicits._
    val targetText = "the quick brown fox jumps over the lazy dog " * 5
    val junkText = "zz9 qq8 vv7 kk6 jj5 xx4 ww3 uu2 yy1 tt0 " * 5
    val docs =
      (0L until 20L).map(i => (i, targetText + s"run $i")) ++      // target
      (100L until 120L).map(i => (i, targetText + s"run $i")) ++   // raw, target-like
      (200L until 240L).map(i => (i, junkText + s"run $i")) ++     // raw, junk
      Seq((300L, ""))                                              // raw, empty
    val df = docs.toDF("id", "text")
    val out = SamplingOps.dsirWeights(df, "id", "text",
        isTarget = col("id") < 20, k = 20, buckets = 256)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))

    assert(out.map(_._1).sorted.toSeq == docs.map(_._1).sorted)
    assert(out.filter(_._2).map(_._1).toSet == (0L until 20L).toSet)
    // target rows are never selected (selection is over the raw pool)
    assert(out.filter(_._2).forall(!_._4))
    // empty doc: no features -> weight 0, and junk scores far below it
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(300L)._3 == 0L)
    assert((200L until 240L).forall(i => byId(i)._3 < -100000000L))
    assert((100L until 120L).forall(i => byId(i)._3 > 100000000L))
    // the separation (>2e8 quanta) dwarfs Gumbel noise (~5e7), so the 20
    // selected rows are exactly the target-like raw docs
    assert(out.filter(_._4).map(_._1).toSet == (100L until 120L).toSet)
  }

  test("dsirWeights is partitioning-invariant; salt only moves the noise") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0L until 80L).map { i =>
      (i, Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    def run(d: org.apache.spark.sql.DataFrame, salt: String) =
      SamplingOps.dsirWeights(d, "id", "text",
        isTarget = col("id") % 3 === 0, k = 10, buckets = 128, salt = salt)
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))
    val a = run(df, "dsir")
    val b = run(df.repartition(7), "dsir")
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    // a different salt re-rolls the Gumbel noise but not the weights
    val c = run(df, "other")
    assert(a.map(t => t._1 -> t._3).toMap == c.map(t => t._1 -> t._3).toMap)
    assert(a.count(_._4) == 10 && c.count(_._4) == 10)
  }

  test("lmScoreAgainst: in-domain text beats scrambled text; short docs score 0") {
    import spark.implicits._
    val target = (0L until 30L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog"))
    val index = TextOps.lmIndex(target.toDF("id", "text"), "text",
      buckets = 1024)
    // index round-trips through parquet (the production shape)
    val path = tmpDir() + "/lm_index.parquet"
    index.write.mode("overwrite").parquet(path)
    val loaded = spark.read.parquet(path)

    val probes = Seq(
      (1L, "the quick brown fox jumps"),   // in-domain transitions
      (2L, "fox the jumps quick brown"),   // same tokens, unseen bigrams
      (3L, "word"),                        // 1 token -> no transitions
      (4L, ""))
    val out = TextOps.lmScoreAgainst(probes.toDF("id", "text"), loaded,
        "text", buckets = 1024)
      .select("id", "lm_q", "n_transitions").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out(1L)._2 == 4 && out(2L)._2 == 4)
    // every in-domain transition has count 30; scrambled bigrams miss
    assert(out(1L)._1 > out(2L)._1)
    assert(out(3L) == ((0L, 0)) && out(4L) == ((0L, 0)))
    // closed-form check ("the" occurs twice per target doc -> u:the = 60;
    // each probe bigram once per doc -> 30): transition (the->quick) is
    // 31/(60+1024), the other three are 31/(30+1024), each quantized
    val q = (p: Double) => math.floor(math.log(p) * 1e7 + 0.5).toLong
    assert(out(1L)._1 == q(31.0 / 1084.0) + 3 * q(31.0 / 1054.0))
  }

  test("c4CleanLines applies the public C4 line rules") {
    import spark.implicits._
    val text = Seq(
      "This line is long enough and ends well.",   // keep
      "Too short.",                                // < 3 words
      "No terminal punctuation at all",            // no [.!?"'] at end
      "Some JavaScript is mentioned here!",        // boilerplate marker
      "A brace { appears mid line today.",         // brace
      "lorem ipsum dolor sit amet?",               // lorem ipsum
      "Another keeper with a question mark?"       // keep
    ).mkString("\n")
    val out = Seq((1L, text)).toDF("doc_id", "text")
      .select(TextOps.c4CleanLines(col("text")).as("c"),
        size(TextOps.c4KeepLines(col("text"))).as("n"))
      .collect().head
    assert(out.getString(0) ==
      "This line is long enough and ends well.\nAnother keeper with a question mark?")
    assert(out.getInt(1) == 2)
    // everything filtered -> empty string
    val none = Seq((2L, "nope")).toDF("doc_id", "text")
      .select(TextOps.c4CleanLines(col("text"))).collect().head.getString(0)
    assert(none == "")
  }

  test("dedupLinesInDoc keeps first in-doc occurrence, preserves order") {
    import spark.implicits._
    val df = Seq(
      (1L, "a\nb\na\nc\nb\na"),
      (2L, "x"),
      (3L, "same\nsame\nsame"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.dedupLinesInDoc(col("text")).as("t"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "a\nb\nc", 2L -> "x", 3L -> "same"))
  }

  test("tokenFrequencies: lowercased counts, deterministic tie-break cut") {
    import spark.implicits._
    val df = Seq(
      (1L, "The the THE b b  a"),
      (2L, "a c b")).toDF("doc_id", "text")
    val top3 = TextOps.tokenFrequencies(df, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // the=3, b=3, a=2, c=1 — ties break by token asc
    assert(top3 == Seq(("b", 3L), ("the", 3L), ("a", 2L)))
  }

  test("gopherQualityRules: each rule triggers on its adversarial doc") {
    import spark.implicits._
    val good = (("the be to of and that have with " * 8).trim + " " +
      Seq.tabulate(20)(i => s"word$i").mkString(" ")) // 84 words, mean 3.6
    val rows = Seq(
      1L -> good,
      2L -> "too short to pass the word count rule",      // word count < 50
      3L -> Seq.tabulate(60)(_ => "a").mkString(" "),     // mean len 1 < 3
      4L -> (good + " " + Seq.fill(10)("####").mkString(" ")), // symbols
      5L -> (good.split(" ").map(w => s"- $w\n").mkString),    // bullets
      6L -> good.split(" ").map(w => s"$w...\n").mkString,     // ellipses
      7L -> (Seq.fill(55)("12345").mkString(" ") + " the be"), // non-alpha
      8L -> Seq.tabulate(60)(i => s"word$i").mkString(" "))    // no stops
    val df = rows.toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextOps.gopherKeep(col("text")).as("keep"),
        struct(TextOps.gopherQualityRules(col("text"))
          .map { case (n, c) => c.as(n) }: _*).as("r"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1), "clean doc must pass all rules")
    (2L to 8L).foreach(i => assert(!out(i).getBoolean(1), s"doc $i must fail"))
    def rule(i: Long, name: String) =
      out(i).getStruct(2).getAs[Boolean](name)
    assert(!rule(2L, "rule_word_count") && rule(2L, "rule_stop_words"))
    assert(!rule(3L, "rule_mean_word_len"))
    assert(!rule(4L, "rule_symbol_ratio") && rule(4L, "rule_word_count"))
    assert(!rule(5L, "rule_bullet_lines"))
    assert(!rule(6L, "rule_ellipsis_lines"))
    assert(!rule(7L, "rule_alpha_words"))
    assert(!rule(8L, "rule_stop_words"))
  }

  test("gopherQualityRules: empty doc fails ratio rules without erroring") {
    import spark.implicits._
    val out = Seq(1L -> "").toDF("doc_id", "text")
      .select(TextOps.gopherKeep(col("text")).as("keep"),
        struct(TextOps.gopherQualityRules(col("text"))
          .map { case (n, c) => c.as(n) }: _*).as("r"))
      .collect().head
    assert(!out.getBoolean(0))
    assert(!out.getStruct(1).getAs[Boolean]("rule_mean_word_len"))
    assert(!out.getStruct(1).getAs[Boolean]("rule_alpha_words"))
  }

  test("dedupParagraphs keeps only the globally first occurrence") {
    // doc 1: A, B      doc 2: B, C, A     doc 3: A, A (in-doc repeat)
    val df = docs(
      (1L, "A\n\nB"), (2L, "B\n\nC\n\nA"), (3L, "A\n\nA"))
    val out = DedupOps.dedupParagraphs(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "A\n\nB", 2L -> "C", 3L -> ""))
  }

  test("dedupParagraphs: empty paragraphs dropped, custom separator") {
    val df = docs((1L, "x||y"), (2L, "||x||z||"))
    val out = DedupOps.dedupParagraphs(df, "doc_id", "text", sep = "||")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "x||y", 2L -> "z"))
  }

  test("duplicatedParagraphs reports counts and first occurrence") {
    val df = docs(
      (1L, "A\n\nB"), (2L, "B\n\nC\n\nB"), (3L, "unique"))
    val rows = DedupOps.duplicatedParagraphs(df, "doc_id", "text").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "B" && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 1L && r.getInt(4) == 1)
  }

  test("applyNearDedup keeps the min-id representative per cluster, untouched singletons") {
    import spark.implicits._
    val docs = (1L to 12L).map(i => (i, s"doc$i")).toDF("doc_id", "body")
    // clusters: {1,2,3} (chain), {5,7}; 4,6,8..12 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L)).toDF("id_a", "id_b")
    val kept = DedupOps.applyNearDedup(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L, 6L, 8L, 9L, 10L, 11L, 12L))
    // non-paired columns survive intact
    val body = DedupOps.applyNearDedup(docs, "doc_id", pairs)
      .filter($"doc_id" === 5L).collect().head.getString(1)
    assert(body === "doc5")
  }

  test("applyNearDedupBy keeps the best-scored member; ties break by id") {
    import spark.implicits._
    // clusters: {1,2,3} (scores 5,9,9 -> keep 2), {5,7} (tie -> keep 5);
    // singletons 4 and 6 always survive with their own scores
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L), (5L, 4L),
      (6L, 0L), (7L, 4L)).toDF("doc_id", "sc")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L)).toDF("id_a", "id_b")
    val kept = DedupOps.applyNearDedupBy(docs, "doc_id", pairs, "sc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept === Set((2L, 9L), (4L, 1L), (5L, 4L), (6L, 0L)))
  }
}
