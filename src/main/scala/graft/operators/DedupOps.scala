package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators — exact and near-duplicate — for training-data
  * pipelines at 100 TB scale (SURVEY.md §7 step 10).
  *
  * Scale design:
  *  - exact dedup = one hash-shuffle on a 16-byte digest (uniform keys, no
  *    skew), map-side partial agg;
  *  - MinHash-LSH = per-row signature (no shuffle) → explode to `bands`
  *    rows/doc → one shuffle on band-hash → candidate pairs only within
  *    buckets (never all-pairs) → exact Jaccard verify on the candidates;
  *  - SimHash = per-row 64-bit signature, near-dup candidates via banding
  *    the 64 bits into chunks (Hamming-distance LSH).
  *
  * All hash primitives are deterministic pure-Scala (FNV-1a / splitmix64),
  * so results are reproducible across runs and cluster sizes.
  */
object DedupOps {

  // ---- deterministic 64-bit hashing (public-domain splitmix64 / FNV-1a) ----

  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Word-level shingles (n-grams) of a normalized document. */
  def shingles(text: String, n: Int): Array[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) { if (toks.isEmpty) Array.empty else Array(toks.mkString(" ")) }
    else toks.sliding(n).map(_.mkString(" ")).toArray
  }

  /** The word tokens of a normalized document as a native column
    * (lowercase, split on whitespace, empties dropped). Materialize this
    * in its OWN projection before [[shinglesFromTokens]] — the shingle
    * expression references the token array several times, and Catalyst's
    * CollapseProject correctly refuses to inline a non-cheap
    * multi-referenced expression, so the split runs once per row. */
  def tokensCol(text: Column): Column =
    TextOps.whitespaceTokens(coalesce(text, lit("")))

  /** [[shingles]] (+ the `.distinct` the similarity joins apply) as a
    * NATIVE expression over a materialized token-array column — codegen
    * higher-order functions, no UDF boundary (no per-row UTF8String <->
    * java.lang.String conversion on the hot shingling scan), value-equal
    * to `shingles(text, n).distinct`. Each shingle is built with
    * concat_ws over n element_at lookups rather than slice+array_join:
    * no per-shingle array allocation, and measurably faster on the cold
    * first pass. */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    val k = size(toks)
    when(k === 0, array().cast("array<string>"))
      .when(k < n, array(array_join(toks, " ")))
      .otherwise(array_distinct(transform(sequence(lit(1), k - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j =>
          element_at(toks, i + j)): _*))))
  }

  /** One-column convenience composition of [[tokensCol]] and
    * [[shinglesFromTokens]] — for small inputs / tests; hot paths should
    * materialize the tokens first (see tokensCol). */
  def shinglesCol(text: Column, n: Int): Column =
    shinglesFromTokens(tokensCol(text), n)

  // ------------------------------ exact ------------------------------------

  /** Exact duplicate groups keyed by normalized-text md5.
    * Emits one row per duplicated fingerprint with the canonical (minimum)
    * doc id and group size. One shuffle, uniform digest keys. */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)

  /** Per-document fingerprint table (id, fp) — persistable exact-dedup
    * index for [[exactDuplicatesAgainst]]. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))

  /** Incoming documents whose normalized text already exists in a
    * fingerprint index (from [[fingerprints]]): (incoming_id, corpus_id)
    * with corpus_id = the index's min id for the fingerprint. One equi
    * join on the 32-hex digest; batch side broadcasts. */
  def exactDuplicatesAgainst(
      incoming: DataFrame, index: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val newFp = broadcast(fingerprints(incoming, idCol, textCol)
      .select(col("id").as("incoming_id"), col("fp")))
    index.groupBy("fp").agg(min(col("id")).as("corpus_id"))
      .join(newFp, "fp")
      .filter(col("incoming_id") =!= col("corpus_id"))
      .select("incoming_id", "corpus_id")
  }

  /** Keep one row per fingerprint (the min id) — the "drop duplicates"
    * materialization. */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextOps.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // --------------------------- paragraph level -----------------------------

  /** Paragraphs duplicated across the corpus (the C4/RefinedWeb unit of
    * dedup below the whole document): one row per paragraph text occurring
    * more than once, with its occurrence count, distinct-document count and
    * first (minimum (id, idx)) occurrence. Empty/whitespace paragraphs are
    * ignored. One explode + one hash-aggregated shuffle whose partial maps
    * combine per-task (a boilerplate paragraph repeated a million times
    * arrives at the reducer as one row per task, not a million — the skew
    * story a window-over-paragraph would not have). */
  def duplicatedParagraphs(
      docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame =
    explodeParagraphs(docs, idCol, textCol, sep)
      .groupBy("para")
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("n_docs"),
        min(struct(col("id"), col("idx"))).as("first"))
      .filter(col("n_occurrences") > 1)
      .select(col("para"), col("n_occurrences"), col("n_docs"),
        col("first.id").as("first_id"), col("first.idx").as("first_idx"))

  /** C4-style paragraph-level deduplication: split each document into
    * paragraphs on `sep`, keep only the globally FIRST occurrence of each
    * distinct paragraph (first = minimum (id, paragraph index)), and
    * reassemble each document from its surviving paragraphs in order
    * (possibly the empty string when everything was removed elsewhere
    * first). Returns (idCol, textCol) with textCol rewritten.
    *
    * Plan: explode → first-occurrence table via map-side-combinable
    * min((id, idx)) aggregation → inner join back on the UNIQUE key
    * (hash, para, id, idx) — exactly one keeper row per distinct
    * paragraph, so no reducer ever sees a hot paragraph's full occurrence
    * list (the C4-at-100 TB failure mode of partition-by-paragraph
    * windows) — → regroup by document. Matching includes the full
    * paragraph string, so 64-bit hash collisions cannot drop text; the
    * hash only keeps the shuffle/join key dense.
    *
    * The exploded table is deliberately NOT persisted even though both
    * the aggregate and the join derive from it (cf. the persisted
    * signature tables in [[minhashNearDuplicates]]): there the recompute
    * was an expensive per-doc UDF and the persisted table narrow; here
    * the recompute is codegen'd split+hash and the intermediate is
    * corpus-sized — at 100 TB a second scan is cheaper than caching the
    * whole corpus re-shaped. */
  def dedupParagraphs(
      docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val exploded = explodeParagraphs(docs, idCol, textCol, sep)
    val firsts = exploded
      .groupBy("h", "para")
      .agg(min(struct(col("id"), col("idx"))).as("first"))
      .select(col("h"), col("para"),
        col("first.id").as("id"), col("first.idx").as("idx"))
    val kept = exploded.join(firsts, Seq("h", "para", "id", "idx"))
      .groupBy(col("id"))
      .agg(array_join(array_sort(collect_list(struct(col("idx"), col("para"))))
        .getField("para"), sep).as("__cleaned"))
      .select(col("id").as("__pdid"), col("__cleaned"))
    docs.select(col(idCol), col(textCol))
      .join(kept, col(idCol) === col("__pdid"), "left")
      .select(col(idCol),
        coalesce(col("__cleaned"), lit("")).as(textCol))
  }

  /** Domain-scoped boilerplate removal: a paragraph that appears in at
    * least `minDocs` DISTINCT documents of the SAME group (site / source)
    * is navigation chrome, cookie banners, license footers — remove EVERY
    * occurrence (unlike [[dedupParagraphs]], which keeps the first). The
    * group scoping is what makes the rule safe: a famous quotation
    * repeated across the whole web is content, but the same sentence on
    * every page of ONE site is template.
    *
    * Plan: explode (group carried) → per-(group, paragraph) distinct-doc
    * count with map-side partial aggregation (the hot-paragraph skew
    * story of [[duplicatedParagraphs]]) → the ≥ minDocs survivors form
    * the boilerplate set, joined back as a (group, hash, para) LOOKUP
    * (one row per boilerplate paragraph — a reducer never materializes an
    * occurrence list) → per-document reassembly + removal accounting.
    *
    * Output: (idCol, groupCol, textCol rewritten, n_removed_paras,
    * removed_chars). Documents with n_removed_paras = 0 are returned
    * BYTE-IDENTICAL to the input (no separator normalization); rewritten
    * documents are reassembled with `sep` between surviving non-empty
    * paragraphs. */
  def removeBoilerplate(
      docs: DataFrame, idCol: String, textCol: String, groupCol: String,
      minDocs: Int, sep: String = "\n\n"): DataFrame = {
    require(minDocs > 1, s"minDocs must be > 1: $minDocs")
    val exploded = docs
      .select(col(idCol).as("id"), col(groupCol).as("grp"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("idx", "para")))
      .filter(trim(col("para")) =!= "")
      .withColumn("h", xxhash64(col("para")))
    val boiler = exploded
      .groupBy("grp", "h", "para")
      .agg(countDistinct(col("id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("grp"), col("h"), col("para"), lit(true).as("__boiler"))
    val kept = exploded
      .join(boiler, Seq("grp", "h", "para"), "left")
      .groupBy("id")
      .agg(
        array_join(array_sort(collect_list(
          when(col("__boiler").isNull, struct(col("idx"), col("para")))))
          .getField("para"), sep).as("__cleaned"),
        count(when(col("__boiler").isNotNull, 1)).as("n_removed_paras"),
        coalesce(sum(when(col("__boiler").isNotNull, length(col("para")))),
          lit(0L)).as("removed_chars"))
    // Byte-preserve untouched documents: reassembly normalizes separators
    // and drops whitespace-only paragraphs, so only emit the rebuilt text
    // when something was actually removed.
    docs.select(col(idCol), col(groupCol), col(textCol).as("__orig"))
      .join(kept, col(idCol) === col("id"), "left")
      .select(col(idCol), col(groupCol),
        when(coalesce(col("n_removed_paras"), lit(0L)) === 0L, col("__orig"))
          .otherwise(coalesce(col("__cleaned"), lit(""))).as(textCol),
        coalesce(col("n_removed_paras"), lit(0L)).as("n_removed_paras"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"))
  }

  /** (id, idx, para, h): non-empty trimmed paragraphs of each document
    * with their in-document index and 64-bit content hash. */
  private def explodeParagraphs(
      docs: DataFrame, idCol: String, textCol: String, sep: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("idx", "para")))
      .filter(trim(col("para")) =!= "")
      .withColumn("h", xxhash64(col("para")))

  // --------------------------- exact substring -----------------------------
  //
  // ExactSubstr deduplication (Lee et al., "Deduplicating Training Data
  // Makes Language Models Better", 2021; reference-independent LLM-pipeline
  // operator): find every length-`minLen` character window whose content
  // occurs at >= 2 positions in the corpus, merge overlapping/adjacent
  // flagged windows into per-document spans, and (optionally) excise them
  // keeping only the globally first occurrence of each duplicated window.
  //
  // The paper builds a corpus-wide suffix array; the Spark-first equivalent
  // is the same O(total chars) work expressed as one shuffle: explode every
  // window start in-plan (sequence + explode, codegen'd substring — no UDF),
  // aggregate per window content with map-side-combinable count + min(site)
  // (NO partition-by-content window function — a corpus-hot gram would pin a
  // reducer, the same failure mode dedupParagraphs avoids), then join the
  // stats back on the unique (hash, gram) key. Span merge and text excision
  // are per-row array expressions.
  //
  // Scale note (SCALE.md): the gram shuffle is ~minLen x corpus chars with
  // exact grams — the same constant a distributed suffix-array sort pays.
  // `hashGrams = true` drops the gram from the shuffle/join key and keys on
  // its 64-bit xxhash64 instead (16x narrower at minLen = 50), at the cost
  // of a vanishing false-flag probability on hash collision.

  /** (idCol, dup_spans): for EVERY input document, the merged 0-based
    * [start, end) character spans covered by duplicated `minLen`-grams
    * (empty array when none). With `keepFirst` the corpus-wide first
    * occurrence (minimum (id, position)) of each duplicated gram is not
    * flagged, so one copy of every duplicated region survives excision. */
  def duplicatedSubstringSpans(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int,
      keepFirst: Boolean = true, hashGrams: Boolean = false): DataFrame =
    docs.select(col(idCol), col(textCol))
      .join(substrSpanTable(docs, idCol, textCol, minLen, keepFirst,
        hashGrams), col(idCol) === col("__esid"), "left")
      .select(col(idCol),
        coalesce(col("__spans"), emptySpans).as("dup_spans"))

  /** Documents with `textCol` rewritten to exclude all duplicated-substring
    * spans (first occurrence kept when `keepFirst`). All other columns pass
    * through untouched. */
  def removeDuplicatedSubstrings(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int,
      keepFirst: Boolean = true, hashGrams: Boolean = false): DataFrame = {
    val tbl = substrSpanTable(docs, idCol, textCol, minLen, keepFirst,
      hashGrams)
    docs.join(tbl, col(idCol) === col("__esid"), "left")
      .withColumn(textCol, excised(col(textCol), col("__spans")))
      .drop("__esid", "__spans")
  }

  /** (idCol, n_dup_spans, removed_chars, cleaned_text) — per-document
    * ExactSubstr diagnostic: span count, characters excised, and the
    * cleaned text, in one plan. */
  def exactSubstrDedupReport(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int,
      keepFirst: Boolean = true, hashGrams: Boolean = false): DataFrame = {
    val tbl = substrSpanTable(docs, idCol, textCol, minLen, keepFirst,
      hashGrams)
    val spans = coalesce(col("__spans"), emptySpans)
    docs.select(col(idCol), col(textCol))
      .join(tbl, col(idCol) === col("__esid"), "left")
      .select(col(idCol),
        size(spans).as("n_dup_spans"),
        coalesce(aggregate(spans, lit(0),
          (acc, s) => acc + (s("end") - s("start"))), lit(0))
          .as("removed_chars"),
        excised(col(textCol), col("__spans")).as("cleaned_text"))
  }

  private val emptySpans =
    array().cast("array<struct<start:int,end:int>>")

  /** (__esid, __spans) ONLY for documents with >= 1 flagged window: merged
    * ascending non-overlapping spans of duplicated `minLen`-grams. */
  private def substrSpanTable(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int,
      keepFirst: Boolean, hashGrams: Boolean): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val L = minLen
    // one row per window start (0-based); docs shorter than L emit nothing.
    // sequence(0, n) with n < 0 counts DOWN in Spark — guard with when().
    // fanOut: the ~L-per-char window explode is the operator's dominant
    // narrow stage; an under-parallel scan must not serialize it.
    val wins = Parallelism
      .fanOut(docs.select(col(idCol).as("id"), col(textCol).as("t")),
        col("id"))
      .select(col("id"),
        explode(when(length(col("t")) >= L,
          sequence(lit(0), length(col("t")) - L))
          .otherwise(array().cast("array<int>"))).as("p"),
        col("t"))
      .select(col("id"), col("p"),
        col("t").substr(col("p") + 1, lit(L)).as("gram"))
      .withColumn("h", xxhash64(col("gram")))
    // map-side-combinable stats per distinct gram; the join key carries the
    // full gram unless hashGrams — then a 64-bit collision can false-flag a
    // window but text can never be silently corrupted on the KEEP side
    // (keepFirst keeps the colliding pair's first occurrence).
    val key = if (hashGrams) Seq("h") else Seq("h", "gram")
    val keyCols = key.map(col)
    val stats = wins.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__n"), min(struct(col("id"), col("p"))).as("__first"))
      .filter(col("__n") > 1)
    val flagged = wins.join(stats, key)
      .filter(if (keepFirst) struct(col("id"), col("p")) =!= col("__first")
              else lit(true))
    // merge sorted window starts into spans: starts are ascending and every
    // window has length L, so a new span begins exactly where the gap from
    // the previous start exceeds L; span ends pair with the next break.
    flagged.groupBy(col("id"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
      .select(col("id").as("__esid"), mergeStarts(col("ps"), L).as("__spans"))
  }

  /** Ascending sorted window starts (fixed window length L) -> merged
    * array<struct<start,end>>. Break indexes (1-based) are positions whose
    * start opens a new span; each span's end is the start before the NEXT
    * break + L. Pure array expressions, per-row. */
  private def mergeStarts(ps: Column, L: Int): Column = {
    val n = size(ps)
    val breaks = filter(sequence(lit(1), n), i =>
      i === 1 || element_at(ps, i) > element_at(ps, i - 1) + L)
    val nexts = concat(slice(breaks, lit(2), size(breaks) - 1),
      array(n + 1))
    zip_with(breaks, nexts, (b, nb) => struct(
      element_at(ps, b).cast("int").as("start"),
      (element_at(ps, nb - 1) + L).cast("int").as("end")))
  }

  /** Rebuild text from the complement of `spans` (null spans -> original
    * text). Kept segments run from each span end to the next span start. */
  private def excised(text: Column, spans: Column): Column = {
    val sp = coalesce(spans, emptySpans)
    val keptStarts = concat(array(lit(0)), transform(sp, s => s("end")))
    val keptEnds = concat(transform(sp, s => s("start")), array(length(text)))
    array_join(zip_with(keptStarts, keptEnds,
      (s, e) => text.substr(s + 1, greatest(e - s, lit(0)))), "")
  }

  // ----------------------------- MinHash LSH -------------------------------

  /** MinHash signature of `numHashes` permutations over word `shingleN`-grams.
    * h_i(s) = splitmix64(fnv1a64(s) + i * GOLDEN); min over shingles.
    * Per-row computation — embarrassingly parallel. */
  def minhashSignature(numHashes: Int, shingleN: Int): Column => Column = {
    val n = numHashes
    val sn = shingleN
    val f = udf { text: String =>
      // the same values bit-for-bit as hashing each joined shingle, at a
      // smaller constant factor:
      // - fnv1a64 of each shingle is computed by streaming the token
      //   chars with ' ' separators — no per-shingle string is built
      //   (the old path allocated every "tok1 tok2 tok3" via mkString)
      // - duplicate shingles are skipped before the n-permutation loop
      //   (min over a multiset == min over its set), saving n splitmix64
      //   rounds per repeat
      val toks = (if (text == null) "" else text).toLowerCase
        .split("\\s+").filter(_.nonEmpty)
      val sig = Array.fill(n)(Long.MaxValue)
      val prime = 0x100000001b3L
      def fnvTokens(start: Int, count: Int): Long = {
        var h = 0xcbf29ce484222325L
        var w = 0
        while (w < count) {
          if (w > 0) { h ^= ' '; h *= prime }
          val s = toks(start + w)
          var i = 0
          while (i < s.length) { h ^= s.charAt(i); h *= prime; i += 1 }
          w += 1
        }
        h
      }
      def mix(base: Long): Unit = {
        var j = 0
        var x = base
        while (j < n) {
          val h = splitmix64(x)
          if (h < sig(j)) sig(j) = h
          j += 1
          x += 0x9e3779b97f4a7c15L
        }
      }
      if (toks.nonEmpty) {
        if (toks.length < sn) mix(fnvTokens(0, toks.length))
        else {
          val seen = new java.util.HashSet[java.lang.Long](
            math.min(toks.length * 2, 1 << 16))
          var i = 0
          val last = toks.length - sn
          while (i <= last) {
            val base = fnvTokens(i, sn)
            if (seen.add(base)) mix(base)
            i += 1
          }
        }
      }
      sig
    }
    f.apply(_)
  }

  /** Per-document MinHash signature table (id, sig) — the persistable LSH
    * index: compute once over a corpus (write it as parquet), then probe it
    * with [[minhashNearDuplicatesAgainst]] for each incoming batch. */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, shingleN: Int = 3): DataFrame = {
    val sig = minhashSignature(numHashes, shingleN)
    // fanOut: the shingle + numHashes loop is the dominant cost of the
    // whole MinHash family; never let an under-parallel scan serialize it.
    Parallelism.fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("id"), sig(col(textCol)).as("sig"))
  }

  /** Banded explode of a signature table: every input column (at least
    * (id, sig)) plus (band, bandHash) — extra columns (e.g. a stream's
    * event-time column) pass through untouched. */
  private[graft] def bandedSignatures(
      signed: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    signed.select(
      col("*"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit("band"), lit(b), slice(col("sig"), b * rows + 1, rows))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")
  }

  /** Compiled-loop signature agreement count (zip_with/aggregate are
    * CodegenFallback — interpreted per element — so a tight loop over the
    * two long arrays is the fast path inside pair joins). */
  private[graft] val agreeUdf = udf { (x: Seq[Long], y: Seq[Long]) =>
    var n = 0
    var i = 0
    val m = math.min(x.length, y.length)
    while (i < m) { if (x(i) == y(i)) n += 1; i += 1 }
    n
  }

  /** Near-duplicates of `incoming` documents AGAINST an existing signature
    * index (from [[minhashSignatures]], typically loaded from parquet) —
    * the incremental-ingest shape of [[minhashNearDuplicates]]: the corpus
    * is never re-signed and never self-joined; each batch signs only
    * itself and probes the banded index. Output (incoming_id, corpus_id,
    * est_jaccard), est >= threshold; pairs where the same id appears on
    * both sides are excluded. At 100 TB the index is the big side: the
    * band join shuffles it once per batch (or zero times if the index is
    * stored bucketed by bandHash), while the batch side is tiny. */
  def minhashNearDuplicatesAgainst(
      incoming: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleN: Int = 3,
      bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val newBanded = bandedSignatures(
      minhashSignatures(incoming, idCol, textCol, numHashes, shingleN),
      numHashes, bands)
      .select(col("id").as("id_new"), col("sig").as("sig_new"),
        col("band").as("band_new"), col("bandHash").as("bh_new"))
    val idxBanded = bandedSignatures(index, numHashes, bands)
      .select(col("id").as("id_idx"), col("sig").as("sig_idx"),
        col("band").as("band_idx"), col("bandHash").as("bh_idx"))
    idxBanded.join(broadcast(newBanded),
        col("bh_idx") === col("bh_new") && col("band_idx") === col("band_new") &&
          col("id_idx") =!= col("id_new"))
      .withColumn("est_jaccard",
        agreeUdf(col("sig_new"), col("sig_idx")).cast("double") / numHashes)
      .groupBy(col("id_new").as("incoming_id"), col("id_idx").as("corpus_id"))
      .agg(max("est_jaccard").as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Candidate near-duplicate pairs via banded MinHash-LSH, verified with
    * the signature-agreement estimate of Jaccard similarity.
    *
    * Output: (id_a, id_b, est_jaccard) with id_a < id_b, est >= threshold.
    * The band join emits each co-bucketed pair once per agreeing band;
    * `distinct` collapses them before verification. */
  def minhashNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleN: Int = 3,
      bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // persisted: both self-join sides derive from the signed table via
    // differently-aliased projections, and Catalyst plans no ReusedExchange
    // for that shape (same measured fact as `prefixed` in
    // jaccardSimilarityJoin), so without the persist the shingle +
    // numHashes-permutation signature UDF — the dominant cost of the whole
    // operator — runs TWICE per document. The cached table is the NARROW
    // (id, sig) form, one row per doc (caching the banded explode would
    // duplicate each signature `bands` times); the cheap codegen'd banding
    // re-runs per side against the cache. Cache lifetime: as long as the
    // RETURNED DataFrame is alive; a long-lived session issuing many dedup
    // passes should `spark.catalog.clearCache()` between them.
    val signed = minhashSignatures(docs, idCol, textCol, numHashes, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band key = hash of the band's rows; explode → one shuffle on band key.
    val banded = bandedSignatures(signed, numHashes, bands)

    // distinct column names on the two sides: a self-join on `bandHash ===
    // bandHash` resolves both references to the SAME attribute, Spark drops
    // it as trivially true, and the join degenerates to per-band all-pairs.
    val a = banded.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("band").as("band_a"), col("bandHash").as("bh_a"))
    val b = banded.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("band").as("band_b"), col("bandHash").as("bh_b"))
    // estimate at the band-match site (signatures in hand), THEN dedup
    // multi-band hits on narrow (id, id, est) rows — the signature arrays
    // are never shuffled
    a.join(b.hint("shuffle_hash"),
        col("bh_a") === col("bh_b") && col("band_a") === col("band_b") &&
          col("id_a") < col("id_b"))
      .withColumn("est_jaccard",
        agreeUdf(col("sig_a"), col("sig_b")).cast("double") / numHashes)
      .groupBy("id_a", "id_b").agg(max("est_jaccard").as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  // ------------------------------ SimHash ----------------------------------

  /** 64-bit SimHash over word unigrams (Charikar 2002, public algorithm).
    * Per-row; no shuffle. */
  val simhash64: Column => Column = {
    val f = udf { text: String =>
      val toks = (if (text == null) "" else text).toLowerCase
        .split("\\s+").filter(_.nonEmpty)
      val acc = new Array[Int](64)
      toks.foreach { t =>
        val h = fnv1a64(t)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
      var sig = 0L
      var j = 0
      while (j < 64) { if (acc(j) > 0) sig |= (1L << j); j += 1 }
      sig
    }
    f.apply(_)
  }

  /** Per-document 64-bit SimHash table (id, sig) — persistable index for
    * [[simhashNearDuplicatesAgainst]]. */
  def simhashSignatures(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Parallelism.fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sig"))

  /** Near-duplicates of `incoming` against an existing SimHash index —
    * the incremental shape: the corpus is never re-signed or self-joined.
    * Output (incoming_id, corpus_id, hamming), hamming <= maxDist; same-id
    * pairs excluded. */
  def simhashNearDuplicatesAgainst(
      incoming: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist < 8, "8x8-bit banding is complete only for maxDist < 8")
    def banded(signed: DataFrame) = signed.select(col("id"), col("sig"),
      posexplode(array((0 until 8).map(b =>
        shiftrightunsigned(col("sig"), b * 8).bitwiseAND(lit(0xffL))): _*)))
    val newBanded = banded(simhashSignatures(incoming, idCol, textCol))
      .select(col("id").as("id_new"), col("sig").as("sig_new"),
        col("pos").as("band_new"), col("col").as("bv_new"))
    val idxBanded = banded(index)
      .select(col("id").as("id_idx"), col("sig").as("sig_idx"),
        col("pos").as("band_idx"), col("col").as("bv_idx"))
    idxBanded.join(broadcast(newBanded),
        col("band_idx") === col("band_new") && col("bv_idx") === col("bv_new") &&
          col("id_idx") =!= col("id_new"))
      .withColumn("hamming",
        bit_count(col("sig_new").bitwiseXOR(col("sig_idx"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .groupBy(col("id_new").as("incoming_id"), col("id_idx").as("corpus_id"))
      .agg(min("hamming").as("hamming"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance <= maxDist, using
    * 8-bit band LSH (two docs within Hamming k of each other share at least
    * one of 8 bands when k < 8). */
  def simhashNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3): DataFrame = {
    // persisted for the same reason as minhashNearDuplicates: both aliased
    // self-join sides re-derive the tokenize+64-bit-vote UDF without it.
    // Narrow (id, long) rows; lifetime as documented there.
    val signed = simhashSignatures(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = signed.select(col("id"), col("sig"),
      posexplode(array((0 until 8).map(b =>
        shiftrightunsigned(col("sig"), b * 8).bitwiseAND(lit(0xffL))): _*)))
      .select(col("id"), col("sig"), col("pos").as("band"), col("col").as("bandVal"))

    val a = banded.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("band"), col("bandVal"))
    val b = banded.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("band").as("band_b"), col("bandVal").as("bandVal_b"))
    val pairs = a.join(b.hint("shuffle_hash"),
        a("band") === b("band_b") && a("bandVal") === b("bandVal_b") &&
          a("id_a") < b("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()

    pairs
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  // --------------------------- n-gram Jaccard ------------------------------

  /** Exact n-gram Jaccard similarity for candidate pairs (given as
    * (id_a, id_b)); joins the shingle sets back and computes |∩|/|∪|.
    * Used as the verify stage after LSH candidate generation. */
  /** EXACT all-pairs n-gram Jaccard similarity join via prefix filtering
    * (the AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al.
    * ICDE'08 — public set-similarity-join literature): with a global
    * token order by ascending document frequency, two sets with
    * J(A,B) >= t MUST share a token within each set's first
    * |X| - ceil(t*|X|) + 1 tokens. Joining only those prefixes prunes the
    * candidate space from O(n^2) to near the true-pair count while
    * staying exact — the scale path for exact dedup at 100 TB, where
    * brute-force pair enumeration and even full inverted-index joins
    * (quadratic on stop-shingles) both blow up.
    *
    * Plan shape: two hash aggregations (shingle document frequency, per-doc
    * ordered arrays), one equi-join on prefix tokens, one verify join —
    * all Catalyst; no UDF in the join path beyond shingle extraction.
    *
    * Returns (id_a, id_b, n_inter, n_union) with id_a < id_b and
    * n_inter/n_union >= threshold — integer counts, so oracle comparison
    * is float-free. */
  def jaccardSimilarityJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sn = shingleN
    // candidate generation keys on 64-bit shingle hashes: every heavy
    // shuffle/join/sort moves 8-byte longs, never strings. A hash
    // collision only merges two tokens for ORDERING and CANDIDATE
    // purposes — the order stays a total order (consistent across docs)
    // and the candidate set only widens; the verify step intersects the
    // TRUE string sets, so the result is exact regardless of collisions.
    // persisted: the shingling UDF and the candidate index feed several
    // plan branches (both self-join sides, both verify sides); without a
    // persist Catalyst re-evaluates the whole upstream per branch. Narrow
    // columns only — spills cleanly at scale (MLlib-style internal cache).
    // Cache lifetime (this and `prefixed` below): as long as the RETURNED
    // DataFrame is alive — the lazy verify join reads both. A long-lived
    // session issuing many similarity-join passes should
    // `spark.catalog.clearCache()` between them (same contract as
    // TextOps.contaminationHitsBloom).
    val sets = Parallelism
      .fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
      // == size(sh) > 0 (any non-whitespace char yields >= 1 shingle) but
      // CHEAP: a size(sh) filter would be pushdown-substituted below the
      // projections, re-running the whole shingle expression per row in
      // the scan predicate (measured 8x on the sets stage)
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(idCol).as("id"), tokensCol(col(textCol)).as("__toks"))
      .select(col("id"), shinglesFromTokens(col("__toks"), sn).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // single shingling pass: tokens hash to longs with the codegen-native
    // xxhash64 at explode time
    val ex = sets.select(col("id"), explode(col("sh")).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    // global rarity order: ascending document frequency, ties by hash —
    // rare-first prefixes keep the candidate join sparse. Computed as a
    // window count over h: one shuffle of the token table, versus the two
    // (groupBy + join-back re-shuffle) of the aggregate-then-join shape.
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val ordered = ex
      .withColumn("df", count(lit(1)).over(byH))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("toks"))
      .select(col("id"),
        expr("transform(toks, x -> x.h)").as("toks"),
        size(col("toks")).as("n"))
    val prefixed = ordered.select(col("id"), col("n"),
      posexplode(slice(col("toks"), lit(1),
        (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))))
      .select(col("id"), col("n"), (col("pos") + 1).as("p"), col("col").as("h"))
      // persisted: the self-join consumes `prefixed` on BOTH sides and
      // Catalyst does NOT reuse the exchange across them (verified: the
      // executed plan carries two Window operators and zero
      // ReusedExchange nodes without this), so the window-count + groupBy
      // + sort_array pipeline would run twice. Measured at sf0.1
      // (min-of-3): 1.3-1.5s persisted vs 2.0s recomputed.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // candidate pruning beyond the prefix (all exact, PPJoin-style):
    //  - length filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
    //  - positional filter: the remaining-suffix overlap upper bound
    //    1 + min(|A|-pa, |B|-pb) must reach the required overlap
    //    t/(1+t)*(|A|+|B|)  (epsilon guards float rounding toward KEEP)
    val eps = 1e-9
    val cand = prefixed.select(col("id").as("id_a"), col("n").as("na"),
        col("p").as("pa"), col("h"))
      .join(prefixed.select(col("id").as("id_b"), col("n").as("nb"),
        col("p").as("pb"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("na"), col("nb")) >=
        lit(threshold) * greatest(col("na"), col("nb")) - lit(eps))
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
        lit(threshold / (1 + threshold)) * (col("na") + col("nb")) - lit(eps))
      .select("id_a", "id_b").distinct()

    // verify on the TRUE string shingle sets — exact regardless of any
    // hash collision upstream. The candidate side is near the true-pair
    // count (the point of PPJoin) and arrives from a shuffle, so AQE's
    // runtime stats convert these to broadcast-hash probes of the cached
    // `sets` when small; under heavy duplication they stay sort-merge and
    // spill cleanly — no hint, by design.
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
          .cast("long").as("n_union"))
      .filter(col("n_inter") >= lit(threshold) * col("n_union"))
  }

  /** Duplicate-pair CLUSTERING: connected components over an undirected
    * pair graph (id_a, id_b) by iterative min-label propagation — the
    * step a production dedup pipeline needs between "similar pairs" and
    * "keep one doc per group". Returns (id, cluster_id) for every id
    * appearing in a pair, cluster_id = the component's minimum id (the
    * canonical survivor).
    *
    * All DataFrame algebra: per round one equi-join + min-aggregation;
    * rounds = graph diameter (near-dup graphs are shallow — cliques and
    * short chains), each bounded by a convergence count. No driver state
    * beyond the loop counter; the label table is (id, label) longs and
    * the edge list is persisted narrow — at 100 TB both spill cleanly and
    * skew lands on AQE. (Iterative CC by label propagation is the
    * standard public formulation, e.g. Kiveris et al. "Connected
    * Components in MapReduce"; GraphX/GraphFrames use the same shape.) */
  def clusterDuplicates(pairs: DataFrame, maxIterations: Int = 50): DataFrame =
    Caching.scope { s =>
      val edges = s.persist(pairs
        .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
        .union(pairs.select(col("id_b").cast("long").as("src"),
          col("id_a").cast("long").as("dst")))
        .distinct())

      // each round's state is an eager lineage cut — without it the
      // self-referential lineage doubles per iteration and the PLAN
      // itself (not the data) blows up (the standard iterative-graph
      // pitfall; GraphX/GraphFrames checkpoint the same way)
      //
      // Seed label(v) = min(v, min neighbor) — the first propagation round
      // computed in the same aggregation that discovers the vertex set, so
      // star-shaped components (the common near-dup shape) are already done
      // before the loop runs once.
      var labels = s.cut(edges
        .groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), col("src")).as("label")))
      var iter = 0
      var converged = false
      while (!converged && iter < maxIterations) {
        // all per-round joins hint shuffle-hash: vertex-id keys are uniform
        // longs, and skipping the SMJ sorts matters when the loop runs
        // several rounds over a 100 TB-scale edge list
        val neighborMin = edges
          .join(labels.withColumnRenamed("id", "dst2").hint("shuffle_hash"),
            col("dst") === col("dst2"))
          .groupBy(col("src")).agg(min("label").as("nlabel"))
        // stepped feeds BOTH sides of the pointer-jump self-join below,
        // keyed differently (nl vs jid) — without a materialization the
        // whole stepped subtree (edge join + neighbor-min aggregation +
        // label join) would execute TWICE per round. Cut it once per round.
        val stepped = s.cut(labels
          .join(neighborMin.hint("shuffle_hash"),
            labels("id") === neighborMin("src"), "left")
          .select(col("id"), col("label"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("nl")))
        // the previous round's labels are fully consumed once stepped
        // materializes: free them instead of letting up to maxIterations
        // rounds of them accumulate
        s.keepOnly(stepped)
        // pointer jumping: label <- label(label). Labels are always member
        // ids of the same component, so the jump stays within the component
        // while collapsing chains logarithmically (rounds ~ log diameter
        // instead of diameter). The stop test counts the lowered labels as
        // an observed metric of this cut's own job, not a job of its own.
        val lowered = new Observation()
        val jumped = s.cut(stepped
          .join(stepped.select(col("id").as("jid"), col("nl").as("jl"))
            .hint("shuffle_hash"),
            col("nl") === col("jid"), "left")
          .select(col("id"), col("label"),
            coalesce(col("jl"), col("nl")).as("newLabel"))
          .observe(lowered,
            count(when(col("newLabel") < col("label"), 1)).as("lowered")))
        s.keepOnly(jumped)
        // The stop test is safe under task retry and speculation. Spark
        // merges a task's accumulator updates only when the task succeeds,
        // so a failed attempt adds nothing; a retried or duplicate attempt
        // may add a second copy of its partition's count. Every attempt
        // of a partition counts the same rows, because `stepped` is a
        // materialized cut and the join's hash partitioning is fixed. A
        // sum of non-negative copies is 0 only if each copy is 0, so no
        // attempt can flip `lowered == 0` either way. A local master does
        // not retry tasks, so no spec forces a retry; ReliableCheckpointSpec
        // runs this loop on reliable cuts.
        converged = lowered.get("lowered") == 0L
        labels = jumped.select(col("id"), col("newLabel").as("label"))
        iter += 1
      }
      labels.select(col("id"), col("label").as("cluster_id"))
    }

  /** Incremental connected-component maintenance: merge an EXISTING
    * labeling with newly-discovered duplicate pairs (e.g. an incoming
    * batch probed against the signature index,
    * [[minhashNearDuplicatesAgainst]]) WITHOUT replaying the historical
    * pair join. A (id, cluster_id) label row IS an edge to the cluster's
    * representative — [[clusterDuplicates]] guarantees cluster_id = min
    * member id, i.e. the same id space — so merging is connected
    * components over labels-as-edges + new pairs: cost scales with
    * |labels| + |new pairs| + log-diameter rounds, never the historical
    * candidate volume.
    *
    * Output: (id, cluster_id) for every id in `labels` or `newPairs`,
    * with merged components re-labeled to the new global min. */
  def mergeClusters(labels: DataFrame, newPairs: DataFrame): DataFrame =
    clusterDuplicates(
      labels.select(col("id").as("id_a"), col("cluster_id").as("id_b"))
        .unionByName(newPairs.select(col("id_a"), col("id_b"))))

  def ngramJaccard(
      docs: DataFrame,
      candidates: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    val sn = shingleN
    // persisted: `sets` is joined for BOTH id_a and id_b; without the
    // persist the shingling pass runs twice over the full corpus (no
    // ReusedExchange across the differently-keyed joins — same measured
    // fact as jaccardSimilarityJoin's `prefixed`). Cache lifetime as
    // documented in minhashNearDuplicates.
    //
    // Shingles hash to 64-bit longs AT SHINGLE TIME (codegen xxhash64 in a
    // higher-order transform), so both verify joins shuffle narrow
    // array<bigint> columns instead of full string-shingle arrays — at
    // 100 TB string arrays would dominate the exchange.
    // Intersection/union cardinalities over the hashed sets equal the
    // string-set values unless two distinct shingles of the SAME candidate
    // pair collide in 64 bits (~n²/2⁶⁴ per doc — negligible, and
    // deterministic); array_distinct guards the set property post-hash.
    val sets = Parallelism
      .fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("id"), tokensCol(col(textCol)).as("__toks"))
      .select(col("id"),
        array_distinct(transform(shinglesFromTokens(col("__toks"), sn),
          x => xxhash64(x)))
          .as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    candidates
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        when(col("uni") === 0, 0.0).otherwise(col("inter").cast("double") / col("uni")))
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------ containment (subset) similarity join -----------------

  /** Shingle-containment join (Broder 1997's resemblance companion):
    * every unordered pair whose MAX directional containment
    * `c(A,B) = |A∩B| / |A|` reaches `threshold` — the subset/quote
    * detector MinHash cannot express (a short document fully embedded in
    * a long one has near-zero JACCARD, so LSH banding recalls nothing,
    * but containment 1.0).
    *
    * Candidates come from an ASYMMETRIC prefix filter: tokens ordered by
    * ascending global document frequency; if `c(A,B) >= t` then B misses
    * at most `floor((1-t)|A|)` of A's shingles, so A's first
    * `floor((1-t)|A|) + 1` rarest shingles must hit B somewhere — the
    * probe joins each doc's PREFIX against the FULL inverted index (both
    * directions covered because every doc is also a probe). Exact — no
    * pair with max containment >= t can be missed.
    *
    * Scale: the prefix bounds probe keys per doc at `(1-t)|A|+1` (tiny
    * for high thresholds); the index side is the full (shingle, doc)
    * stream but shuffles 8-byte hashes; document frequency ordering makes
    * prefix keys the RAREST shingles, so candidate buckets stay small
    * (the PPJoin argument); verify rebinds hashed shingle arrays by id.
    * Same 64-bit shingle-hash caveat as [[ngramJaccard]]. */
  def containmentJoin(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"bad threshold $threshold")
    val sn = shingleN
    val sets = Parallelism
      .fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
      // cheap equivalent of size(sh) > 0 -- see jaccardSimilarityJoin
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(idCol).as("id"), tokensCol(col(textCol)).as("__toks"))
      .select(col("id"),
        array_distinct(transform(shinglesFromTokens(col("__toks"), sn),
          x => xxhash64(x)))
          .as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = sets.select(col("id"), explode(col("sh")).as("tok"))
    val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("__df"))
    // Rarest-first prefix per doc WITHOUT a per-doc window: a window would
    // rank EVERY (id, tok) row (exchange + full sort of the exploded
    // corpus) and join sets back for the doc size, only to keep the
    // floor((1-t)*n)+1 rarest rows.
    // One hash aggregation now collects each doc's (df, tok) pairs
    // (bounded by the doc's distinct-shingle count — the same per-doc
    // bound the window's partition carried), a per-row array_sort orders
    // them ((df, tok) struct order = the window's (df asc, tok asc)), and
    // the explode emits ONLY the prefix. size(__dts) = the old __n (ex
    // explodes sets.sh verbatim and dfreq matches every token), so the
    // prefix length expression is unchanged. Plan: the Window + its sort
    // + the sets-size join are gone; one exchange replaces three ops.
    val plen = floor((lit(1.0) - threshold) * size(col("__dts")))
      .cast("int") + 1
    val prefix = ex.join(dfreq, "tok")
      .groupBy("id")
      .agg(collect_list(struct(col("__df"), col("tok"))).as("__dts"))
      .select(col("id").as("__pa"),
        explode(slice(array_sort(col("__dts")), lit(1), plen)).as("__dt"))
      .select(col("__pa"), col("__dt.tok").as("tok"))
    val cand = prefix
      .join(ex.select(col("id").as("__pb"), col("tok")), "tok")
      .filter(col("__pa") =!= col("__pb"))
      .select(least(col("__pa"), col("__pb")).as("id_a"),
        greatest(col("__pa"), col("__pb")).as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("c_a", col("n_inter").cast("double") / size(col("sh_a")))
      .withColumn("c_b", col("n_inter").cast("double") / size(col("sh_b")))
      .filter(greatest(col("c_a"), col("c_b")) >= threshold)
      .select("id_a", "id_b", "n_inter", "c_a", "c_b")
  }

  // ------------------ edit-distance near-dup (PassJoin) --------------------

  /** Segment bounds for PassJoin: string of length `len` split into
    * `d + 1` contiguous segments, longer segments first — `(start, len)`
    * per segment. */
  private[operators] def passJoinSegments(
      len: Int, d: Int): Array[(Int, Int)] = {
    val k = d + 1
    val base = len / k
    val extra = len % k
    val out = new Array[(Int, Int)](k)
    var start = 0
    var i = 0
    while (i < k) {
      val l = base + (if (i < extra) 1 else 0)
      out(i) = (start, l)
      start += l
      i += 1
    }
    out
  }

  /** Edit-distance near-duplicate self-join: every unordered pair with
    * `levenshtein <= maxDist`, found WITHOUT an all-pairs comparison via
    * PassJoin segment blocking (Li, Deng, Feng — "PASS-JOIN: a
    * partition-based method for similarity joins", PVLDB 5(3) 2011;
    * reference analog: the reference engine has no edit-distance join —
    * this extends the dedup family the same way jaccardSimilarityJoin
    * does for set similarity).
    *
    * Pigeonhole completeness: split every indexed string u into
    * `maxDist + 1` segments. If `ed(u, v) <= maxDist`, at most `maxDist`
    * segments are touched by edits, so at least one segment of u occurs
    * VERBATIM in v, displaced by at most `maxDist` positions; and
    * `|len(u) - len(v)| <= maxDist`. The probe side therefore emits, for
    * each target length `L` within `maxDist` of its own and each segment
    * slot, every substring of itself inside the displaced window — a
    * CONSTANT number of keys per row ((d+1)·(2d+1)² at most, 75 for
    * d = 2), never a cross product.
    *
    * Plan shape at 100 TB: both key streams explode per-row above the
    * scan; the candidate join keys are (slot, target-length, segment)
    * structs — dense, and hot boilerplate segments split by AQE skew
    * handling; candidates are `distinct`-ed BEFORE the levenshtein
    * verify, and the verify joins rebind strings by id (narrow exchange).
    * Output: `(id_a, id_b, dist)` with `id_a < id_b`, each pair once. */
  def editDistanceNearDuplicates(
      docs: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val d = maxDist
    val indexKeys = udf { s: String =>
      val str = if (s == null) "" else s
      passJoinSegments(str.length, d).zipWithIndex.map {
        case ((st, l), i) => (i, str.length, str.substring(st, st + l))
      }.toSeq
    }
    val probeKeys = udf { s: String =>
      val str = if (s == null) "" else s
      val m = str.length
      val out = scala.collection.mutable.LinkedHashSet.empty[(Int, Int, String)]
      var targetL = math.max(0, m - d)
      while (targetL <= m + d) {
        val segs = passJoinSegments(targetL, d)
        var i = 0
        while (i < segs.length) {
          val (st, l) = segs(i)
          var p = math.max(0, st - d)
          val pMax = math.min(m - l, st + d)
          while (p <= pMax) {
            out += ((i, targetL, str.substring(p, p + l)))
            p += 1
          }
          i += 1
        }
        targetL += 1
      }
      out.toSeq
    }
    val strs = docs.select(col(idCol).as("id"), col(strCol).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fanned = Parallelism.fanOut(strs, col("id"))
    val idx = fanned.select(col("id").as("__ia"),
      explode(indexKeys(col("s"))).as("k"))
    val prb = fanned.select(col("id").as("__ib"),
      explode(probeKeys(col("s"))).as("k"))
    val cand = idx.join(prb, "k")
      .filter(col("__ia") =!= col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"))
      .distinct()
    cand
      .join(strs.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(strs.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= d)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Materialize a near-dedup decision: cluster the duplicate `pairs`
    * ([[clusterDuplicates]]' exact connected components) and keep ONE
    * representative per cluster — the minimum id, the same canonical
    * choice as exact dedup — dropping every other member from `docs`.
    * Docs in no pair pass through untouched (the clusters table only
    * contains paired ids, so the anti-join leaves them alone).
    * This is the "give me the deduplicated corpus" terminal step that
    * composes with any pair source: MinHash, SimHash, embedding-cosine,
    * edit-distance, dHash. */
  def applyNearDedup(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drops = clusterDuplicates(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** [[applyNearDedup]] with a QUALITY-AWARE representative: instead of
    * the min-id member, each duplicate cluster keeps its best row by
    * (scoreCol DESC, id ASC) — the production policy ("keep the longest /
    * highest-quality version"), deterministic under ties. Docs in no pair
    * form singleton clusters and always survive. One keyed window over
    * clusters (bounded by cluster size, AQE splits hot ones) after the
    * same pointer-jumping clustering. */
  def applyNearDedupBy(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val cl = clusterDuplicates(pairs)
      .select(col("id").as(idCol), col("cluster_id"))
    val scored = docs.join(cl, Seq(idCol), "left")
      .withColumn("__cid", coalesce(col("cluster_id"), col(idCol)))
    val w = Window.partitionBy(col("__cid"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__cid", "__rn", "cluster_id")
  }

  // ---------------------- content-defined chunking --------------------------

  /** Content-defined chunking (the rsync/LBFS/FastCDC family): split each
    * document at positions where the rolling fingerprint of the last
    * `window` chars has its low `maskBits` bits zero — so chunk boundaries
    * follow CONTENT, not offsets, and an insertion early in a document
    * shifts only the chunk it lands in (fixed-size chunking would shift
    * every later boundary and destroy dedup). Expected chunk length is
    * 2^maskBits chars.
    *
    * The fingerprint is the windowed form (fnv1a64 of each `window`-char
    * substring — the Rabin-style definition), a pure per-row computation;
    * cut positions per doc aggregate into one bounded array (state is
    * bounded by doc length, never corpus size — the globalLineDedup
    * contract) and chunks explode back out per row. No minimum-chunk
    * constraint: every qualifying position cuts, keeping the boundary
    * rule stateless and exactly replayable.
    *
    * Candidate positions are generated in fixed-size blocks (an outer
    * explode of len/4096 block indices, an inner explode of at most 4096
    * positions each) rather than one `sequence(window, len)` array per
    * row — a single huge document would otherwise allocate an O(len)
    * array at once (and Spark caps sequence element counts), at odds
    * with the 100 TB framing.
    *
    * Output: (idCol, chunk_idx, chunk_pos (1-based), chunk_len, chunk).
    * At 100 TB, key downstream joins on xxhash64(chunk) instead of the
    * string (the raw chunk is kept here for oracle byte-exactness). */
  def contentDefinedChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 8, maskBits: Int = 6): DataFrame = {
    val mask = (1L << maskBits) - 1
    val d = docs.select(col(idCol), col(textCol).as("t"),
      length(col(textCol)).as("len"))
      .filter(col("len") > 0)
    val blk = 4096
    val cuts = d.filter(col("len") >= window)
      .select(col(idCol), col("t"), col("len"),
        explode(expr(s"sequence(0, (len - $window) div $blk)")).as("b"))
      .select(col(idCol), col("t"),
        explode(expr(s"sequence($window + b * $blk, " +
          s"least(len, $window + (b + 1) * $blk - 1))")).as("i"))
      .filter(graft.functions.GraftFunctions.fnv1a64(
        expr(s"substring(t, i - ${window - 1}, $window)"))
        .bitwiseAND(lit(mask)) === 0)
      .groupBy(idCol)
      .agg(sort_array(collect_set(col("i"))).as("cuts"))
    d.join(cuts, Seq(idCol), "left")
      .withColumn("bs", concat(array(lit(0)),
        coalesce(col("cuts"), array().cast("array<int>")),
        array(col("len"))))
      .select(col(idCol), col("t"), posexplode(expr(
        "arrays_zip(slice(bs, 1, size(bs) - 1), slice(bs, 2, size(bs) - 1))"))
        .as(Seq("chunk_idx", "pr")))
      .filter(expr("pr.`1` > pr.`0`")) // len == last cut -> empty tail
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        expr("CAST(pr.`0` + 1 AS BIGINT)").as("chunk_pos"),
        expr("CAST(pr.`1` - pr.`0` AS BIGINT)").as("chunk_len"),
        expr("substring(t, pr.`0` + 1, pr.`1` - pr.`0`)").as("chunk"))
  }

  /** Corpus-level chunk-dedup savings estimate off
    * [[contentDefinedChunks]]: group identical chunks (exact string
    * equality — no collision semantics) and report how many chars a
    * chunk-store would save. One map-side-combined aggregation over the
    * chunk table + a constant-size rollup. Output (one row):
    * (n_chunks, n_distinct_chunks, n_dup_chunks, dup_chars, total_chars). */
  def chunkDedupReport(chunks: DataFrame): DataFrame =
    chunks
      .groupBy("chunk")
      .agg(count(lit(1)).as("cnt"), max("chunk_len").as("clen"))
      .agg(sum("cnt").as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("cnt") - 1).as("n_dup_chunks"),
        sum((col("cnt") - 1) * col("clen")).as("dup_chars"),
        sum(col("cnt") * col("clen")).as("total_chars"))

  /** Horizon (recrawl) dedup: within each key's timeline (`tsCol` a
    * TIMESTAMP, ties broken by `tieBreak`), a sighting is `fresh` when
    * it arrives MORE than `horizonMs` after the previous sighting of the
    * same key — otherwise it is a duplicate of the running epoch. The
    * exact streaming twin is
    * [[graft.streaming.EventStreams.horizonCarry]] (StreamingSpec pins
    * stream == batch); Structured Streaming's own
    * `dropDuplicatesWithinWatermark`
    * ([[graft.streaming.EventStreams.dedupDocuments]]) is the
    * approximate neighbor — its state expiry anchors at the FIRST
    * sighting (not the previous one) and depends on watermark progress,
    * so a chained recrawl run longer than the delay may be re-admitted
    * there; here the state stays alive while sightings keep arriving and
    * expires only after a quiet horizon.
    *
    * Semantics are CHAINED (each sighting refreshes the window): a
    * timeline t0, t0+0.8h, t0+1.6h yields ONE fresh row (t0) — every
    * later sighting is within the horizon of its predecessor — where
    * first-anchor semantics would re-admit t0+1.6h. Chained is the
    * windowable form (one lag + one running sum over the SAME keyed
    * window, so one exchange total) and the right model for "is this
    * page still being recrawled", the recrawl-dedup question.
    *
    * Output: input columns + `fresh` boolean + `epoch` (0-based index of
    * the sighting's freshness run within its key). Exactly one fresh row
    * per (key, epoch). */
  def horizonDedup(df: DataFrame, keyCol: String, tsCol: String,
      tieBreak: String, horizonMs: Long): DataFrame = {
    require(horizonMs > 0, s"horizonMs must be positive: $horizonMs")
    require(!df.columns.contains("fresh") && !df.columns.contains("epoch"),
      "horizonDedup writes 'fresh' and 'epoch' columns; input already " +
        s"has one of them — rename it first (columns: " +
        s"${df.columns.mkString(", ")})")
    val ms = expr(s"unix_millis(`$tsCol`)")
    val w = Window.partitionBy(col(keyCol)).orderBy(ms, col(tieBreak))
    val run = Window.partitionBy(col(keyCol)).orderBy(ms, col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = ms - lag(ms, 1).over(w)
    df.withColumn("fresh", gap.isNull || gap > lit(horizonMs))
      .withColumn("epoch",
        sum(when(col("fresh"), 1L).otherwise(0L)).over(run) - lit(1L))
  }

  /** [[horizonDedup]] keyed by normalized text fingerprint — the exact
    * normalization the streaming twin applies (trim, collapse
    * whitespace, lowercase, md5). Output adds the `fp` column. */
  def horizonDedupText(docs: DataFrame, textCol: String, tsCol: String,
      tieBreak: String, horizonMs: Long): DataFrame = {
    require(!docs.columns.contains("fp"),
      "horizonDedupText writes an 'fp' column; input already has one — " +
        s"rename it first (columns: ${docs.columns.mkString(", ")})")
    horizonDedup(
      docs.withColumn("fp",
        TextOps.fingerprint(col(textCol))),
      "fp", tsCol, tieBreak, horizonMs)
  }
}
