package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CaseMap

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §7 step 10 extensions). All per-row column expressions —
  * zero shuffles, full whole-stage codegen, trivially scale to 100 TB.
  *
  * Oracle-friendliness: every function here is also expressible in ANSI SQL
  * (see the paired entries in graft.SparkEntry.oracleSql), so the driver's
  * DuckDB harness can hash-match the results. Ratios are int/int divisions
  * in IEEE double — bit-identical across engines.
  */
object TextOps {

  /** Whitespace token count. `size(split(trim(x), '\\s+'))`, with empty →
    * 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Count of characters matching a single-char regex class: length minus
    * length after deleting the matches. */
  private def countMatches(text: Column, pattern: String): Column =
    length(text) - length(regexp_replace(text, pattern, ""))

  /** Quality-score feature columns: length, tokens, punctuation ratio,
    * digit ratio, uppercase ratio, whitespace ratio. Ratios are int/int
    * divisions in double — bit-exact across engines. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> length(text),
    "n_tokens" -> tokenCount(text),
    "punct_ratio" ->
      countMatches(text, "[.,;:!?'\"()-]").cast("double") / length(text),
    "digit_ratio" ->
      countMatches(text, "[0-9]").cast("double") / length(text),
    "upper_ratio" ->
      countMatches(text, "[A-Z]").cast("double") / length(text),
    "ws_ratio" ->
      countMatches(text, "[ ]").cast("double") / length(text)
  )

  /** Composite heuristic quality score in [0,1] — long-enough, mostly
    * letters, sane punctuation. Modeled on public C4/Gopher-style filters. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lenOk = when(f("n_chars") >= 200 && f("n_chars") <= 20000, 1.0).otherwise(0.0)
    val punctOk = when(f("punct_ratio") <= 0.1, 1.0).otherwise(0.0)
    val digitOk = when(f("digit_ratio") <= 0.2, 1.0).otherwise(0.0)
    val upperOk = when(f("upper_ratio") <= 0.3, 1.0).otherwise(0.0)
    (lenOk + punctOk + digitOk + upperOk) / 4.0
  }

  /** C4-style line keep predicate over an exploded line (the public C4
    * cleaning rules, Raffel et al. 2020 §2.2): a line survives iff it ends
    * in terminal punctuation, has at least `minWords` whitespace words,
    * and contains none of the boilerplate markers (curly brace,
    * "javascript", "lorem ipsum" — case-insensitive). */
  private def c4LineKeep(line: Column, minWords: Int): Column = {
    val t = trim(line)
    t.rlike("[.!?\"']$") &&
      size(split(t, "\\s+")) >= minWords &&
      !t.contains("{") &&
      !CaseMap.lower(t).contains("javascript") &&
      !CaseMap.lower(t).contains("lorem ipsum")
  }

  /** Lines of `text` surviving the C4 rules, in order — a codegen'd
    * higher-order `filter` over `split`, no UDF, no shuffle. */
  def c4KeepLines(text: Column, minWords: Int = 3): Column =
    filter(split(text, "\n"), l => c4LineKeep(l, minWords))

  /** `text` with non-surviving lines removed (C4 line-level cleaning);
    * empty string when nothing survives. Pair with
    * [[c4KeepLines]]`.size >= minSentences` for the paper's document-level
    * drop. */
  def c4CleanLines(text: Column, minWords: Int = 3): Column =
    array_join(c4KeepLines(text, minWords), "\n")

  /** Within-document repeated-line removal (the RefinedWeb/MassiveText
    * in-doc cleanup that complements cross-corpus
    * [[graft.operators.DedupOps.dedupParagraphs]]): keep each line's FIRST
    * in-document occurrence, preserving order. Per-row higher-order
    * expression — no UDF, no shuffle: a line survives iff no earlier index
    * holds the same content. O(lines²) per doc in the worst case, but
    * line counts are small and the work is embarrassingly row-parallel. */
  def dedupLinesInDoc(text: Column, sep: String = "\n"): Column = {
    val lines = split(text, java.util.regex.Pattern.quote(sep))
    // array_position is the FIRST (1-based) index holding the value
    array_join(
      filter(lines, (l, i) => array_position(lines, l) === i + 1),
      sep)
  }

  /** Corpus token-frequency table (vocabulary building): lowercase
    * whitespace tokens, counted corpus-wide, top `k` by (count desc,
    * token asc) — the deterministic tie-break makes the result stable
    * across cluster sizes. One map-side-combined shuffle on the token
    * (explode + partial count), then a rank cut; token cardinality —
    * not corpus size — bounds the final aggregation. */
  def tokenFrequencies(
      docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = docs
      .select(explode(whitespaceTokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
    toks
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  /** BM25 relevance of every document against a fixed bag of query terms
    * (Robertson/Sparck Jones probabilistic weighting; the non-negative
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` idf variant) — the retrieval
    * primitive behind eval-set leakage triage and quality mining over a
    * training corpus.
    *
    * Tokens are lowercase alphanumeric runs. Output: one row per document
    * matching at least one term — `(doc_id, bm25_q, matched_terms)` where
    * `bm25_q` is the score in integer 1e-7 units: each (doc, term)
    * contribution is quantized `floor(x*1e7 + 0.5)` BEFORE the per-doc
    * sum, so the sum is an order-free BIGINT aggregation — bit-stable
    * across engines and partitionings (raw double sums are neither, and
    * libm `ln` differs by 1 ulp between JVM and C on ~0.1% of inputs;
    * both vanish below the quantum).
    *
    * Plan shape at 100 TB: the exploded token stream is filtered to the
    * query terms BEFORE the tf shuffle, so shuffle volume is bounded by
    * matches (≤ |terms| rows per doc after partial aggregation), not
    * corpus tokens; `df` and the corpus length stats are tiny aggregates
    * broadcast back onto the tf table. */
  /** Positional-index phrase search: documents containing the exact
    * token sequence `phrase` (lowercased `[a-z0-9]+` tokenization, same
    * as the rest of the text stack), with per-document occurrence
    * counts. The positional-postings primitive of exact-match retrieval
    * (quote finding, n-gram decontamination's precise sibling).
    *
    * Plan: ONE posexplode pass pruned to the phrase's terms BEFORE any
    * shuffle (an isin filter on the exploded stream — the corpus never
    * shuffles, only phrase-term occurrence rows do), then one
    * (doc, position)-keyed equi join per subsequent word with the
    * position shifted by its phrase offset, so equality means adjacency.
    * No windows, no cartesian; candidate volume is bounded by the rarest
    * term's occurrence count. Output: (idCol, n_occurrences) —
    * overlapping matches count individually. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one word")
    val words = phrase.map(_.toLowerCase)
    val toks = docs
      .select(col(idCol), posexplode(alnumWords(col(textCol))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(words.distinct: _*))
    val first = toks.filter(col("tok") === words.head)
      .select(col(idCol), col("pos"))
    val matched = words.zipWithIndex.drop(1)
      .foldLeft(first) { case (acc, (w, i)) =>
        acc.join(toks.filter(col("tok") === w)
          .select(col(idCol), (col("pos") - i).as("pos")),
          Seq(idCol, "pos"))
      }
    matched.groupBy(idCol).agg(count(lit(1)).as("n_occurrences"))
  }

  def bm25Scores(
      docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores needs at least one query term")
    val toks = Parallelism
      .fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("doc_id"), alnumWords(col(textCol)).as("ts"))
    val dl = toks.select(col("doc_id"), size(col("ts")).as("dl"))
    val tf = toks
      .select(col("doc_id"), explode(col("ts")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf is unique per (doc, term), so df = row count per term.
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("dlsum"))
    // Operation ORDER below mirrors the SQL oracle token for token —
    // IEEE +|*|/ are individually bit-exact across engines, so identical
    // association yields identical doubles (Q.scala conventions).
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val x = col("dl").cast("double") /
      (col("dlsum").cast("double") / col("n"))
    val contrib = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * x))
    tf.join(dl, "doc_id")
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(contrib * lit(1e7) + lit(0.5)).cast("long").as("cq"))
      .groupBy("doc_id")
      .agg(sum(col("cq")).as("bm25_q"),
        count(lit(1)).as("matched_terms"))
  }

  /** CCNet-style LM quality scoring (Wenzek et al. 2019), as a hashed
    * bigram language model: the reference pipeline scores every document by
    * its perplexity under a KenLM trained on the target domain (Wikipedia)
    * and keeps the low-perplexity head. Here the LM is an add-`alpha`
    * smoothed bigram model over HASHED token buckets — kind-prefixed
    * features "u:w" (context unigram) and "b:w1 w2" (bigram) share one
    * fnv1a64-pmod count table, so model memory is `buckets` cells no
    * matter how large the target corpus — with
    * P(w2 | w1) = (c[b:w1 w2] + alpha) / (c[u:w1] + alpha*buckets).
    *
    * [[lmIndex]] builds the count table from the target slice (one
    * aggregation pass, ≤`buckets` output rows); [[lmScoreAgainst]] appends
    * `lm_q` (Σ_transition floor(ln P · 1e7 + 0.5) — each transition
    * quantized to integer 1e-7 units before the order-free BIGINT sum, the
    * [[bm25Scores]] technique, so a SQL oracle replays it bit-for-bit) and
    * `n_transitions`; perplexity = exp(-lm_q/1e7/n_transitions).
    *
    * The probe is one compiled per-row pass over the broadcast count
    * array — zero shuffle, streaming-safe (stateless, no watermark). */
  def lmIndex(
      docs: DataFrame, textCol: String,
      buckets: Int = 1 << 16): DataFrame = {
    require(buckets > 0, s"bad lm buckets: $buckets")
    val toks = docs.select(alnumWords(col(textCol)).as("ts"))
    // kind-prefixed features: "u:" + token, "b:" + token + " " + next
    val feats = toks.select(explode(filter(
      concat(
        transform(col("ts"), t => concat(lit("u:"), t)),
        zip_with(col("ts"), slice(col("ts"), lit(2), size(col("ts"))),
          (a, b) => concat(lit("b:"), a, lit(" "), b))),
      f => f.isNotNull)).as("feat"))
    feats
      .select(pmod(graft.functions.GraftFunctions.fnv1a64(col("feat")),
        lit(buckets.toLong)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
  }

  /** Score rows against a prebuilt [[lmIndex]]: appends `lm_q` (quantized
    * bigram log-likelihood, 0 for docs with <2 tokens) and
    * `n_transitions`. See [[lmIndex]] for the model and scale notes. */
  def lmScoreAgainst(
      docs: DataFrame, index: DataFrame, textCol: String,
      buckets: Int, alpha: Double = 1.0): DataFrame = {
    val counts = new Array[Long](buckets)
    index.select(col("b").cast("int"), col("c").cast("long"))
      .collect().foreach(r => counts(r.getInt(0)) = r.getLong(1))
    val cB = docs.sparkSession.sparkContext.broadcast(counts)
    val m = buckets.toLong
    val ab = alpha * buckets
    val scoreU = udf { text: String =>
      if (text == null) (0L, 0)
      else {
        val ts = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        def bucket(f: String): Int = {
          val h = graft.operators.DedupOps.fnv1a64(f)
          (((h % m) + m) % m).toInt
        }
        var s = 0L
        var i = 0
        while (i < ts.length - 1) {
          val c2 = cB.value(bucket("b:" + ts(i) + " " + ts(i + 1)))
          val c1 = cB.value(bucket("u:" + ts(i)))
          val lp = math.log((c2.toDouble + alpha) / (c1.toDouble + ab))
          s += math.floor(lp * 1e7 + 0.5).toLong
          i += 1
        }
        (s, math.max(ts.length - 1, 0))
      }
    }
    val Seq(lm) = ScratchColumns.fresh(docs, "__lm")
    docs.withColumn(lm, scoreU(col(textCol)))
      .withColumn("lm_q", col(s"$lm._1"))
      .withColumn("n_transitions", col(s"$lm._2"))
      .drop(lm)
  }

  /** The eight Gopher stop words (Rae et al. 2021, Appendix A1.1): a doc
    * must contain at least two of them (as whole lowercase tokens). */
  val gopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Named Gopher quality-rule columns (Rae et al. 2021, Appendix A1.1),
    * ASCII interpretation, all codegen'd/higher-order expressions — no UDF,
    * no shuffle:
    *  - word count in [50, 100000];
    *  - mean word length in [3, 10] chars;
    *  - symbol-to-word ratio (`#` or `...`) < 0.1;
    *  - <= 90% of lines starting with a bullet (`-` or `*`);
    *  - < 30% of lines ending with `...`;
    *  - >= 80% of words containing an alphabetic character;
    *  - at least 2 of the 8 [[gopherStopWords]] present as whole tokens.
    * Ratio rules are `false` for empty (0-word) documents. Every ratio is
    * a single int/int double division, so a SQL oracle replays bit-exact. */
  def gopherQualityRules(text: Column): Seq[(String, Column)] = {
    val words = filter(split(text, "\\s+"), w => w =!= "")
    val nWords = size(words)
    // ANSI mode errors on ANY zero divisor (even behind &&, which codegen
    // may not short-circuit) — every division must sit inside a when().
    def safeRatio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den).otherwise(lit(0.0))
    val meanLen = when(nWords > 0,
      aggregate(words, lit(0L), (a, w) => a + length(w))
        .cast("double") / nWords)
    val nSym = countMatches(text, "#") + countMatches(text, "\\.\\.\\.") / 3
    val lines = split(text, "\n")
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l => trim(l).rlike("^[-*]")))
    val ellipsisLines = size(filter(lines, l => trim(l).rlike("\\.\\.\\.$")))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val stopHits = gopherStopWords
      .map(kw => when(exists(words, w => CaseMap.lower(w) === kw), 1).otherwise(0))
      .reduce(_ + _)
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> meanLen,
      "rule_word_count" -> (nWords >= 50 && nWords <= 100000),
      "rule_mean_word_len" ->
        coalesce(meanLen >= 3.0 && meanLen <= 10.0, lit(false)),
      "rule_symbol_ratio" ->
        (nWords > 0 && safeRatio(nSym, nWords) < 0.1),
      "rule_bullet_lines" ->
        (safeRatio(bulletLines, nLines) <= 0.9),
      "rule_ellipsis_lines" ->
        (safeRatio(ellipsisLines, nLines) < 0.3),
      "rule_alpha_words" ->
        (nWords > 0 && safeRatio(alphaWords, nWords) >= 0.8),
      "rule_stop_words" -> (stopHits >= 2))
  }

  /** Conjunction of every [[gopherQualityRules]] rule column. */
  def gopherKeep(text: Column): Column =
    gopherQualityRules(text).collect {
      case (n, c) if n.startsWith("rule_") => c
    }.reduce(_ && _)

  /** Stopword-evidence language ID. Counts occurrences of high-frequency
    * function words per language (padded with spaces so they only match as
    * whole words) and argmaxes with a fixed preference order — a standard
    * public n-gram/stopword heuristic (cf. CLD/langid literature). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " is ", " of "),
    "de" -> Seq(" der ", " und ", " die ", " ist "),
    "fr" -> Seq(" le ", " la ", " et ", " est "),
    "es" -> Seq(" el ", " los ", " es ", " y "))

  def langScore(text: Column, markers: Seq[String]): Column = {
    // occurrences(kw) = (len(t) - len(replace(t, kw, ''))) / len(kw);
    // pure integer arithmetic → engine-portable.
    // `replace` (literal, not regex) matches DuckDB's replace() exactly —
    // both remove left-to-right non-overlapping occurrences.
    val padded = concat(lit(" "), CaseMap.lower(text), lit(" "))
    markers.map { kw =>
      (length(padded) - length(replace(padded, lit(kw), lit("")))) / kw.length
    }.reduce(_ + _)
  }

  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, kws) => lang -> langScore(text, kws) }
    // Deterministic argmax: first language in declaration order wins ties.
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Lower-cased `[a-z0-9]+` words of `text`, empty runs dropped: the word
    * split of the bag-of-words, sketch and classifier operators (DuckDB:
    * `list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')`). */
  def alnumWords(text: Column): Column =
    filter(split(CaseMap.lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Lower-cased whitespace tokens of `text`, empty tokens dropped. */
  def whitespaceTokens(text: Column): Column =
    filter(split(CaseMap.lower(text), "\\s+"), t => t =!= "")

  /** Whitespace-normalized lowercase text: trimmed, each whitespace run
    * one space. */
  def normalizedText(text: Column): Column =
    CaseMap.lower(regexp_replace(trim(text), "\\s+", " "))

  /** Document fingerprint: md5 of [[normalizedText]]. The exact-dedup key
    * (see [[DedupOps.exactDuplicates]]). */
  def fingerprint(text: Column): Column =
    md5(normalizedText(text))

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme):
    * hash every character `k`-gram of the whitespace-normalized lowercase
    * text, then in every window of `w` consecutive hashes select the
    * minimum (ties → RIGHTMOST position, the paper's robust winnowing).
    * The selected (pos, fp) set guarantees any shared substring of at
    * least w + k - 1 chars shares a fingerprint — the local document
    * sketch behind plagiarism/near-dup detection at corpus scale.
    *
    * Output: (id, pos, fp) — pos the 1-based k-gram offset in the
    * normalized text. Docs shorter than k emit nothing; docs with fewer
    * than w k-grams select from the single truncated window.
    *
    * The per-row selection is ONE compiled loop (hash the grams, slide the
    * window keeping the rightmost min, emit on change) — O(chars·(k + w)),
    * no shuffle until the narrow (id, pos, fp) rows leave the task. A
    * higher-order-function formulation was tried first and abandoned:
    * lambda bodies re-evaluate their captured array expression per
    * invocation (O(chars²·k) — Spark's HOFs are also interpreted), the
    * same measured reason the MinHash signature loop is compiled. Selected
    * positions are non-decreasing across sliding windows, so emit-on-change
    * IS the distinct selection set. */
  def winnowingFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 6): DataFrame = {
    require(k >= 1 && w >= 1, s"bad winnowing params: k=$k w=$w")
    val winnowU = udf { text: String =>
      if (text == null) Array.empty[(Long, Long)]
      else {
        val t = text.trim.toLowerCase.replaceAll("\\s+", " ")
        val hn = t.length - k + 1
        if (hn < 1) Array.empty[(Long, Long)]
        else {
          val hs = new Array[Long](hn)
          var i = 0
          while (i < hn) {
            hs(i) = DedupOps.fnv1a64(t.substring(i, i + k)); i += 1
          }
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var lastPos = -1
          var j = 0
          val maxJ = math.max(hn - w, 0)
          while (j <= maxJ) {
            var bi = j; var bh = hs(j)
            var x = j + 1
            val end = math.min(j + w, hn)
            while (x < end) { // <= keeps the RIGHTMOST min on ties
              if (hs(x) <= bh) { bh = hs(x); bi = x }
              x += 1
            }
            if (bi != lastPos) { buf += ((bi + 1L, bh)); lastPos = bi }
            j += 1
          }
          buf.toArray
        }
      }
    }
    docs
      .select(col(idCol).as("id"), explode(winnowU(col(textCol))).as("s"))
      .select(col("id"), col("s._1").as("pos"), col("s._2").as("fp"))
  }

  /** Winnowing near-duplicate pairs (the MOSS match step): documents
    * sharing at least `minShared` DISTINCT fingerprint values from
    * [[winnowingFingerprints]]. Fingerprints held by more than `maxDocFreq`
    * documents are dropped first (0 = off) — MOSS's over-common-fingerprint
    * suppression, which is ALSO the scale guard: boilerplate grams would
    * otherwise make one fp bucket quadratic in the pair join. Output:
    * (id_a, id_b, n_shared) with id_a < id_b.
    *
    * Plan shape at 100 TB: the per-doc fingerprint pass is narrow; the
    * distinct (id, fp) table persists once (both self-join sides — the
    * no-ReusedExchange measured fact); the pair join shuffles on the fp
    * value with bucket sizes capped by `maxDocFreq`; the pair count is a
    * map-side-combined aggregation on narrow (id_a, id_b) rows. */
  def winnowingNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 6, minShared: Int = 2,
      maxDocFreq: Int = 0): DataFrame = {
    val fps = winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col("id"), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // doc-frequency suppression joins on fp (NOT broadcast: the rare-fp
    // table scales with the corpus); the pair join shuffles on fp too, so
    // the exchange is reusable
    val kept =
      if (maxDocFreq <= 0) fps
      else fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDocFreq).select("fp"), "fp")
    kept.select(col("id").as("id_a"), col("fp"))
      .join(kept.select(col("id").as("id_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ----------------------------- PII redaction -----------------------------

  /** PII redaction patterns — the standard pre-training scrub (emails,
    * IPv4s, phone-shaped digit runs). Patterns stay inside the common
    * Java-regex ∩ RE2 subset (no backrefs, no lookaround) so the same
    * pattern strings run identically in Spark and the DuckDB oracle, and
    * on any RE2-based scale-out engine. Order matters: emails first (an
    * email's host part must not be half-eaten by another rule). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    "\\b[0-9]{2,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}\\b" -> "<PHONE>")

  /** Redact PII in place: chained `regexp_replace` — pure codegen'd
    * per-row work, zero shuffles at any scale. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-document PII hit counts (before redaction) — the audit side of
    * the scrub: occurrences = (len - len(after-redaction)) recovered per
    * pattern by counting replacement tokens instead, so overlapping
    * pattern families don't double-count. */
  def piiCounts(text: Column): Column = {
    def countToken(c: Column, tok: String): Column =
      (length(c) - length(replace(c, lit(tok), lit("")))) / tok.length
    val redacted = redactPii(text)
    struct(
      countToken(redacted, "<EMAIL>").cast("long").as("n_emails"),
      countToken(redacted, "<IP>").cast("long").as("n_ips"),
      countToken(redacted, "<PHONE>").cast("long").as("n_phones"))
  }

  /** Per-source PII risk census — the audit a corpus owner runs BEFORE
    * deciding what to scrub: how many documents in each source carry
    * emails / IPs / phone numbers, and how many hits of each class.
    * [[piiCounts]] VERBATIM per row (one definition — the shared-phase
    * rule: the census counts exactly what [[redactPii]] would redact),
    * then ONE map-side-combined aggregation per source;
    * `pii_permille` is an exact integer division.
    *
    * Output per source: (source, n_docs, n_docs_with_pii, pii_permille,
    * n_emails, n_ips, n_phones). */
  def piiCensus(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val p = piiCounts(col(textCol))
    docs
      .select(col(sourceCol).as("source"),
        p.getField("n_emails").as("__e"),
        p.getField("n_ips").as("__i"),
        p.getField("n_phones").as("__p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__e") + col("__i") + col("__p") > 0, 1L)
          .otherwise(0L)).as("n_docs_with_pii"),
        sum("__e").as("n_emails"), sum("__i").as("n_ips"),
        sum("__p").as("n_phones"))
      .select(col("source"), col("n_docs"), col("n_docs_with_pii"),
        expr("n_docs_with_pii * 1000L div n_docs").as("pii_permille"),
        col("n_emails"), col("n_ips"), col("n_phones"))
  }

  // ------------------ repetition / quality filters -------------------------

  /** Gopher-style repetition statistics (Rae et al. 2021 "Scaling Language
    * Models", table A1 — the published repetition-removal filters used by
    * Gopher/MassiveText and FineWeb). Per-document, over lowercase
    * whitespace tokens:
    *
    *  - `n_tokens`, `n_distinct_tokens`, `tok_chars` (total token chars,
    *    excluding whitespace);
    *  - `top2_chars` / `top3_chars`: characters covered by the single MOST
    *    frequent word 2-/3-gram (count × gram token chars; the numerator
    *    of Gopher's "fraction of characters in the most frequent n-gram");
    *    ties break to the lexicographically smallest gram; docs shorter
    *    than n tokens score 0;
    *  - `dup5_chars` / `dup10_chars`: Σ over DUPLICATED 5-/10-grams
    *    (count ≥ 2) of count × gram token chars (the numerator of
    *    Gopher's "fraction of characters in duplicate n-grams"; overlaps
    *    counted per occurrence, so the ratio may exceed 1 — documented
    *    deviation, keeps the statistic one-pass).
    *
    * All counts are exact longs — ratios are left to the caller so the
    * result hash-matches an integer-only oracle.
    *
    * Scale: per-row computation in ONE compiled pass (hash map over the
    * doc's own n-grams) — zero shuffles, embarrassingly parallel at
    * 100 TB. The groupBy-per-gram formulation would shuffle the whole
    * corpus's n-gram stream for stats that are row-local. */
  def repetitionStats(text: Column): Column = {
    val f = udf { t: String =>
      val toks = (if (t == null) "" else t).toLowerCase
        .split("\\s+").filter(_.nonEmpty)
      val tokChars = { var s = 0L; var i = 0
        while (i < toks.length) { s += toks(i).length; i += 1 }; s }
      def topN(n: Int): Long = {
        if (toks.length < n) return 0L
        val counts = new java.util.HashMap[String, Int]()
        var i = 0
        while (i + n <= toks.length) {
          val g = toks.slice(i, i + n).mkString(" ")
          counts.merge(g, 1, Integer.sum)
          i += 1
        }
        var bestGram: String = null
        var bestCnt = 0
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue > bestCnt ||
            (e.getValue == bestCnt && (bestGram == null || e.getKey < bestGram))) {
            bestGram = e.getKey; bestCnt = e.getValue
          }
        }
        if (bestGram == null) 0L
        else bestCnt.toLong * (bestGram.length - (n - 1))
      }
      def dupN(n: Int): Long = {
        if (toks.length < n) return 0L
        val counts = new java.util.HashMap[String, Int]()
        var i = 0
        while (i + n <= toks.length) {
          val g = toks.slice(i, i + n).mkString(" ")
          counts.merge(g, 1, Integer.sum)
          i += 1
        }
        var s = 0L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue >= 2)
            s += e.getValue.toLong * (e.getKey.length - (n - 1))
        }
        s
      }
      (toks.length.toLong, toks.distinct.length.toLong, tokChars,
        topN(2), topN(3), dupN(5), dupN(10))
    }
    f(text).cast(
      "struct<n_tokens:long,n_distinct_tokens:long,tok_chars:long," +
        "top2_chars:long,top3_chars:long,dup5_chars:long,dup10_chars:long>")
  }

  // ------------------- benchmark decontamination ---------------------------

  /** Benchmark decontamination hits: for each corpus document, the number of
    * DISTINCT word n-grams it shares with a benchmark/eval set — the
    * standard test-set-overlap filter a pretraining pipeline runs before
    * training (n-gram collision decontamination, as published with GPT-3 /
    * The Pile / FineWeb).
    *
    * Shape at scale: both sides reduce to distinct n-grams BEFORE the join
    * (map-side combine on the corpus side, a distinct on the benchmark
    * side), so the join moves one row per distinct (doc, gram) — never raw
    * text. Benchmarks are small (thousands of eval items), so Catalyst
    * broadcasts the benchmark gram set and the 100 TB corpus side never
    * shuffles: filter + partial-agg only. n-gram semantics match
    * [[DedupOps.shingles]] (lowercase, whitespace tokens, whole-doc gram
    * when shorter than n).
    *
    * Returns (idCol, n_hits) for documents with at least `minHits` shared
    * n-grams — the rows a `dropContaminated` anti-join removes. */
  def contaminationHits(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      benchTextCol: String,
      ngramN: Int = 8,
      minHits: Int = 1): DataFrame = {
    val n = ngramN
    val gramUdf = udf((t: String) => DedupOps.shingles(if (t == null) "" else t, n).distinct)
    val benchGrams = benchmark
      .select(explode(gramUdf(col(benchTextCol))).as("__g")).distinct()
    corpus
      .select(col(idCol), explode(gramUdf(col(textCol))).as("__g"))
      .join(broadcast(benchGrams), "__g")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Full decontamination REPORT: per corpus document, its distinct-gram
    * count, the number of those grams shared with the benchmark set, and a
    * `contaminated` verdict at `maxFraction` overlap — the
    * fraction-thresholded variant of [[contaminationHits]] (the form the
    * published GPT-3 appendix-C / FineWeb filters actually apply: a long
    * document sharing a few grams by chance is NOT contamination, a short
    * one matching half its content is).
    *
    * Same scale shape as [[contaminationHits]]: the benchmark gram set
    * broadcasts, the corpus side never shuffles strings — after the per-row
    * explode and broadcast probe, the only exchange is the map-side-combined
    * (id, n_grams, n_hits) partial aggregation. Documents with zero grams
    * (empty text) produce no row. */
  def contaminationReport(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      benchTextCol: String,
      ngramN: Int = 8,
      maxFraction: Double = 0.2): DataFrame = {
    val n = ngramN
    val gramUdf = udf((t: String) => DedupOps.shingles(if (t == null) "" else t, n).distinct)
    val benchGrams = benchmark
      .select(explode(gramUdf(col(benchTextCol))).as("__g")).distinct()
      .withColumn("__hit", lit(1))
    corpus
      .select(col(idCol), explode(gramUdf(col(textCol))).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_grams"),
        count(col("__hit")).cast("long").as("n_hits"))
      .withColumn("contaminated",
        col("n_hits") > lit(maxFraction) * col("n_grams"))
  }

  /** Drop corpus documents contaminated by benchmark overlap (left-anti on
    * [[contaminationHits]]). */
  def dropContaminated(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      benchTextCol: String,
      ngramN: Int = 8,
      minHits: Int = 1): DataFrame =
    corpus.join(
      contaminationHits(corpus, benchmark, idCol, textCol, benchTextCol, ngramN, minHits)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** [[contaminationHits]] with a deterministic Bloom-filter PREFILTER on
    * the corpus gram stream — the scale path when the benchmark set is
    * large (a full eval-suite union easily reaches 10^8-10^9 distinct
    * grams, where broadcasting the string set costs tens of GB per
    * executor while the Bloom bitset at `bitsPerGram`=12 is ~1.5 GB per
    * 10^9 grams, ~20x smaller than the strings).
    *
    * Exactness is preserved: a Bloom filter has no false negatives, so the
    * prefilter only thins the corpus side (a per-row codegen-adjacent
    * bitset probe, no shuffle), and every surviving gram is still verified
    * against the TRUE benchmark gram set. False positives cost only wasted
    * verify work — at the default 12 bits / 5 probes the FP rate is ~0.3%,
    * so the exact join downstream moves ~0.3% of the corpus gram stream
    * instead of all of it. Output is identical to [[contaminationHits]]
    * (same oracle SQL applies).
    *
    * Bloom construction is distributed: grams → k probe positions
    * (Kirsch-Mitzenmacher double hashing off fnv1a64/splitmix64, both
    * deterministic) → `bit_or` aggregation per 64-bit word → the collected
    * word array is bounded driver state (mBits/8 bytes, sized from a
    * count() of the benchmark set, NOT from the corpus).
    *
    * Lifetime note: `benchGrams` stays persisted and `bcWords` broadcast as
    * long as the RETURNED DataFrame is alive (both back the lazy verify
    * join); a long-lived session issuing many decontamination passes should
    * `spark.catalog.clearCache()` between them. */
  def contaminationHitsBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      benchTextCol: String,
      ngramN: Int = 8,
      minHits: Int = 1,
      bitsPerGram: Int = 12,
      numProbes: Int = 5,
      broadcastVerify: Option[Boolean] = None): DataFrame = {
    require(bitsPerGram >= 1 && numProbes >= 1, "need >=1 bit and >=1 probe")
    val n = ngramN
    val k = numProbes
    val gramUdf = udf((t: String) => DedupOps.shingles(if (t == null) "" else t, n).distinct)
    val benchGrams = benchmark
      .select(explode(gramUdf(col(benchTextCol))).as("__g")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // bounded driver actions: one count (sizes the filter) + one collect of
    // the word table (mBits/64 longs)
    val nGrams = math.max(1L, benchGrams.count())
    val mBits = ((nGrams * bitsPerGram + 63L) / 64L) * 64L
    require((mBits >>> 6) <= Int.MaxValue,
      s"Bloom filter of $nGrams grams x $bitsPerGram bits/gram needs " +
        s"${mBits >>> 6} words > Int.MaxValue; lower bitsPerGram or shard " +
        "the benchmark set")
    val nWords = (mBits >>> 6).toInt
    val probeUdf = udf { g: String =>
      val h1 = DedupOps.fnv1a64(g)
      val h2 = DedupOps.splitmix64(h1) | 1L // odd => full-period stride
      val out = new Array[Long](k)
      var i = 0
      while (i < k) {
        out(i) = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits)
        i += 1
      }
      out
    }
    // stream the word rows instead of collect(): the final long[] is
    // mBits/8 bytes but a collect() of the Row objects would hit
    // spark.driver.maxResultSize long before that (one boxed Row per
    // non-zero word) — toLocalIterator holds one partition at a time
    val words = new Array[Long](nWords)
    benchGrams
      .select(explode(probeUdf(col("__g"))).as("bit"))
      .select(shiftrightunsigned(col("bit"), 6).as("word"),
        expr("shiftleft(1L, cast(bit & 63 as int))").as("mask"))
      .groupBy("word").agg(bit_or(col("mask")).as("bits"))
      .toLocalIterator()
      .forEachRemaining(r => words(r.getLong(0).toInt) = r.getLong(1))
    val bcWords = corpus.sparkSession.sparkContext.broadcast(words)

    val mightContain = udf { g: String =>
      val w = bcWords.value
      val h1 = DedupOps.fnv1a64(g)
      val h2 = DedupOps.splitmix64(h1) | 1L
      var i = 0
      var hit = true
      while (hit && i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits)
        hit = (w((bit >>> 6).toInt) & (1L << (bit & 63L).toInt)) != 0L
        i += 1
      }
      hit
    }
    val survivors = corpus
      .select(col(idCol), explode(gramUdf(col(textCol))).as("__g"))
      .filter(mightContain(col("__g")))
    // auto-select the verify join strategy from the measured gram count:
    // broadcasting a 10^8+-gram benchmark set exceeds Spark's broadcast
    // limits on exactly the scale this operator targets, so only hint
    // broadcast when the string set plausibly fits (~32 bytes/gram heap)
    val doBroadcast = broadcastVerify.getOrElse(nGrams <= 10L * 1000 * 1000)
    val verify = if (doBroadcast) broadcast(benchGrams) else benchGrams
    survivors
      .join(verify, "__g")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  // ------------------------- sequence packing ------------------------------

  /** GPT-style sequence packing by concatenation: documents are laid out
    * end-to-end in `orderCol` order as one global token stream, which is
    * then cut into fixed `seqLen`-token training sequences; a document
    * contributes one span per sequence it crosses. Returns
    * (idCol, seq_id, doc_off, len): sequence `seq_id` takes `len` tokens of
    * the document starting at token `doc_off` (whitespace tokens, matching
    * [[tokenCount]]). Empty documents contribute nothing.
    *
    * The global token offset is a distributed two-phase prefix sum — range
    * partition on `orderCol`, a within-partition running total, then a
    * cumulative offset across the per-partition totals (one row per
    * partition — bounded by cluster size, NOT by data). No global-order
    * window (which would serialize 100 TB through one partition) and no
    * driver collect. */
  def packTokenSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int,
      orderCol: String = null): DataFrame = {
    val ord = Option(orderCol).getOrElse(idCol)
    // persisted: both the per-partition totals and the local running sums
    // read `__pid`, and partition ids are only consistent across the two
    // branches if the range exchange is materialized exactly once
    val sized = docs.select(col(idCol), col(ord).as("__ord"),
        tokenCount(col(textCol)).cast("long").as("__n"))
      .repartitionByRange(col("__ord"))
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("__ord")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val pidW = org.apache.spark.sql.expressions.Window
      .orderBy("__pid")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // one row per range partition: safe to window over a single partition
    val partOffsets = sized.groupBy("__pid").agg(sum("__n").as("__psum"))
      .withColumn("__poff", coalesce(sum("__psum").over(pidW), lit(0L)))
      .select("__pid", "__poff")
    val offd = sized
      .withColumn("__loff", coalesce(sum("__n").over(localW), lit(0L)))
      .join(broadcast(partOffsets), "__pid")
      .select(col(idCol), col("__n"), (col("__loff") + col("__poff")).as("__off"))
      .filter(col("__n") > 0)
    val L = seqLen.toLong
    // `div`, not `/`: Column./ is IEEE double division, which both fails
    // sequence()'s integral-type requirement and loses exactness past 2^53
    offd
      .select(col(idCol), col("__n"), col("__off"),
        explode(sequence(expr(s"__off div $L"), expr(s"(__off + __n - 1) div $L")))
          .as("seq_id"))
      .select(
        col(idCol), col("seq_id"),
        (greatest(col("__off"), col("seq_id") * L) - col("__off")).as("doc_off"),
        (least(col("__off") + col("__n"), (col("seq_id") + 1) * L) -
          greatest(col("__off"), col("seq_id") * L)).as("len"))
  }

  // ------------------ cross-document line dedup ----------------------------

  /** RefinedWeb-style CROSS-document exact line deduplication (Penedo et
    * al. 2023 §3.2 — the within-doc variant is [[dedupLinesInDoc]]): any
    * line whose exact content occurs in at least `minDocs` DISTINCT
    * documents is boilerplate (navigation chrome, cookie banners, footers)
    * and is removed from EVERY document. Returns one row per input
    * document: `(idCol, cleaned_text, n_removed)` with surviving lines in
    * original order; documents whose every line is boilerplate keep an
    * empty `cleaned_text`.
    *
    * Plan shape at 100 TB: lines are exploded once; the document-frequency
    * aggregate runs over the (line, doc) DISTINCT projection, so a footer
    * repeated 50× inside one page costs ONE row in the frequency shuffle,
    * and the per-line count is map-side combined. The banned-line table is
    * tiny relative to the corpus (only lines crossing the threshold) —
    * AQE turns the filter join into a broadcast when it fits; the
    * reconstruction groupBy shuffles each doc's surviving lines exactly
    * once, keyed by the dense doc id. Line strings are the join key here
    * (keeps the DuckDB oracle byte-exact); a 100 TB deployment would key
    * the frequency/ban join on `xxhash64(line)` and carry the 8-byte hash
    * instead — same plan, narrower exchanges, collision odds ~n²/2⁶⁴. */
  def globalLineDedup(
      docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val id = col(idCol)
    val lines = docs
      .select(id, posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val banned = lines.select(col("line"), id).distinct()
      .groupBy("line").agg(count(lit(1)).as("__ndocs"))
      .filter(col("__ndocs") >= minDocs)
      .select(col("line"), lit(true).as("__banned"))
    val kept = lines
      .join(banned, Seq("line"), "left")
      .groupBy(idCol)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(not(coalesce(col("__banned"), lit(false))),
                struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("cleaned_text"),
        sum(coalesce(col("__banned"), lit(false)).cast("long"))
          .as("n_removed"))
    // every input doc appears, even if split/explode produced only banned
    // lines (cleaned_text '' either way — split never yields zero rows)
    docs.select(id).join(kept, Seq(idCol), "left")
      .select(id,
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  // ------------------ sliding-window chunking ------------------------------

  /** Fixed-size character chunking with overlap — the context-window
    * splitter of a training/RAG pipeline: chunk `i` covers
    * `[i*stride, i*stride + size)`; the last chunk may be shorter, and the
    * first chunk always exists (an empty document yields one empty chunk),
    * so every document survives into the chunked corpus. Output:
    * `(idCol, chunk_id, chunk_text, chunk_len)`.
    *
    * Chunk count is `1 + ceil(max(0, len-size)/stride)` in pure integer
    * arithmetic — the minimal set of windows covering every character.
    *
    * Scale: per-row `sequence`+`explode`+`substr`, zero shuffles, full
    * whole-stage codegen; output rows ≈ input chars / stride regardless of
    * document skew, and the explode sits directly above the scan so the
    * fan-out never re-shuffles parent columns. */
  def chunkDocuments(
      docs: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    // `div`, not Column./ (IEEE double division — same trap as
    // packTokenSpans): chunk count must be exact integer arithmetic
    val lastChunk = expr(
      s"(greatest(length($textCol) - $size, 0L) + ${stride - 1}) div $stride")
    docs
      .select(col(idCol), col(textCol).as("__t"),
        explode(sequence(lit(0L), lastChunk)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        col("__t").substr((col("chunk_id") * stride + 1).cast("int"), lit(size))
          .as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
  }

  // ------------------ collocation mining (PMI) -----------------------------

  /** Corpus-level collocation extraction by pointwise mutual information
    * (Church & Hanks 1990) — the vocabulary/phrase-mining step of a
    * training pipeline (multi-word-expression merging, tokenizer seeding).
    * Over lowercase alphanumeric-run tokens: every adjacent bigram with
    * count ≥ `minCount` is scored
    * `PMI = ln(p(w1,w2) / (p(w1)·p(w2)))`, and the top `k` by
    * `(pmi_q desc, w1, w2)` are returned — the unique-bigram tie-break
    * makes the LIMIT deterministic, so a SQL oracle can replay it.
    *
    * `pmi_q` is the PMI in integer 1e-7 units, quantized from a
    * fixed-association double expression
    * `ln((c12/B) * (T/c1) * (T/c2))` — each division/multiplication is an
    * individually-exact IEEE op replayed in the same order by the oracle,
    * so the only cross-engine hazard is libm `ln`'s 1-ulp tail, which the
    * 1e-7 quantum absorbs (same technique as [[bm25Scores]]).
    *
    * Plan shape at 100 TB: bigrams are composed per-row (a `transform`
    * over the token array — no self-join), the bigram and unigram counts
    * are map-side-combined hash aggregates, and the unigram table joins
    * back twice by broadcast (vocabulary-sized, not corpus-sized). The
    * final top-k is a `TakeOrderedAndProject` — partial top-k per
    * partition, k rows to the driver, never a global sort. */
  def collocationsPmi(
      docs: DataFrame, textCol: String,
      minCount: Long = 5L, k: Int = 50): DataFrame = {
    val toks = docs.select(alnumWords(col(textCol)).as("ts"))
    val bigrams = toks
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val unigrams = toks
      .select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val totals = toks.agg(
      sum(size(col("ts")).cast("long")).as("t_toks"),
      sum(greatest(size(col("ts")) - 1, lit(0)).cast("long")).as("t_bgs"))
    val pmi =
      log((col("c12").cast("double") / col("t_bgs")) *
        (col("t_toks").cast("double") / col("c1")) *
        (col("t_toks").cast("double") / col("c2")))
    bigrams
      .join(broadcast(unigrams.select(col("w").as("w1"), col("cu").as("c1"))), "w1")
      .join(broadcast(unigrams.select(col("w").as("w2"), col("cu").as("c2"))), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        floor(pmi * lit(1e7) + lit(0.5)).cast("long").as("pmi_q"))
      .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
      .limit(k)
  }

  // ------------------ per-document TF-IDF keywords -------------------------

  /** Top-`k` characteristic terms per document by TF-IDF — the keyword
    * extractor of corpus exploration / topic labeling pipelines. Tokens
    * are lowercase alphanumeric runs; `idf = ln((N+1)/(df+1))` (add-one
    * smoothed, non-negative); score is quantized
    * `floor(tf · idf · 1e7 + 0.5)` so the per-doc ranking replays exactly
    * in SQL; ties break on the term string. Output:
    * `(idCol, term, tf, tfidf_q, rank)` with rank 1..k.
    *
    * Plan shape at 100 TB: one (doc, term) shuffle for the tf counts
    * (map-side combined), the vocabulary-sized df table broadcast back,
    * and the per-doc top-k as a doc-keyed window — ranks within a doc's
    * handful of terms, never a global sort. */
  def tfidfKeywords(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = docs.select(col(idCol), explode(alnumWords(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf is unique per (doc, term) => df = rows per term
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(col(idCol)).agg(count(lit(1)).as("n_docs"))
    val score = floor(
      col("tf").cast("double") *
        log((col("n_docs").cast("double") + 1.0) / (col("df") + 1.0)) *
        lit(1e7) + lit(0.5)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf_q").desc, col("term"))
    tf.join(broadcast(dfs), "term")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"), score.as("tfidf_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ------------------ Zipf rank-frequency diagnostic -----------------------

  /** Zipf's-law fit over the corpus vocabulary — the distribution
    * diagnostic of corpus health checks (a natural-language corpus has
    * rank-frequency slope ≈ -1; template/boilerplate-heavy corpora flatten
    * or steepen it). Ranks tokens by `(count desc, token)`, takes
    * `x = ln(rank)`, `y = ln(count)` QUANTIZED to integer 1e-4 units, and
    * returns the least-squares slope via exact BIGINT sums:
    * `slope = (V·Σxy − Σx·Σy) / (V·Σxx − (Σx)²)` evaluated as one double
    * division of exact integers — bit-identical across engines and
    * partitionings. Output: one row
    * `(n_types, n_tokens, num, den, slope)`.
    *
    * Scale: ranking runs over the VOCABULARY table (bounded by distinct
    * tokens, not corpus size) and is DISTRIBUTED even there — the vocab
    * is range-partitioned in rank order, ranks are local row numbers
    * plus cumulative partition offsets, and the only single-partition
    * window is over the one-row-per-partition offset table (<= shuffle
    * partitions rows; the exactSubstrDedup recipe). At 10^8 types a
    * global-ORDER-BY window would sort the whole vocabulary on one
    * reducer; this shape never does. The 1e-4 quantum keeps `Σxy` under
    * 2^63 up to ~10^8 types. */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = docs
      .select(explode(alnumWords(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val sized = freqs
      .repartitionByRange(col("n").desc, col("token"))
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val localW = Window.partitionBy("__pid")
      .orderBy(col("n").desc, col("token"))
    val pidW = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    // one row per range partition: safe to window over a single partition
    val offsets = sized.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(pidW), lit(0L)))
      .select("__pid", "__off")
    val xy = sized.join(broadcast(offsets), "__pid")
      .withColumn("rank", row_number().over(localW) + col("__off"))
      .select(col("n"),
        floor(log(col("rank").cast("double")) * 1e4 + 0.5).cast("long").as("x"),
        floor(log(col("n").cast("double")) * 1e4 + 0.5).cast("long").as("y"))
    xy.agg(
        count(lit(1)).as("n_types"),
        sum(col("n")).as("n_tokens"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_types"), col("n_tokens"),
        (col("n_types") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n_types") * col("sxx") - col("sx") * col("sx")).as("den"))
      .withColumn("slope",
        when(col("den") === 0, lit(0.0))
          .otherwise(col("num").cast("double") / col("den").cast("double")))
  }

  /** Per-document character-distribution Shannon entropy — the classic
    * gibberish / compression-quality signal (natural text sits ~2.5-3.2
    * nats/char; base64 blobs and keyboard mash spike higher, repeated-char
    * spam collapses toward 0).
    *
    * Engine-exact via the zipfFit technique: each character class
    * contributes the integer term floor(c * (ln n - ln c) * 1e6 + 0.5);
    * integer terms sum exactly in any order (never a raw double sum), and
    * ent_micro = sum div n is the entropy in micro-nats/char. One
    * chars-explode + per-doc combine; the per-doc distinct-char window is
    * bounded by the alphabet. */
  def charEntropy(
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(filter(split(col(textCol), ""),
        c => c =!= "")).as("ch"))
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    counts
      .withColumn("n", sum(col("c")).over(w))
      .select(col(idCol), col("n"),
        floor(col("c") *
          (log(col("n").cast("double")) - log(col("c").cast("double"))) *
          1e6 + 0.5).cast("long").as("term"))
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n_chars"),
        count(lit(1)).as("n_classes"),
        sum(col("term")).as("ent_sum_q"))
      .withColumn("ent_micro", expr("ent_sum_q div n_chars"))
  }

  /** Flesch reading-ease score per document — the classic readability
    * gate (Flesch 1948): `206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)`. Heuristics kept deterministic and
    * engine-replayable: words are nonempty lowercase whitespace tokens;
    * sentences are maximal `[.!?]+` runs; syllables per word are vowel
    * GROUPS `[aeiouy]+` with a 1-per-word floor (the standard cheap
    * estimator). `n_sentences` reports the raw run count; the score
    * divides by `max(1, n_sentences)` so punctuation-free text still
    * scores. Zero-word documents (empty or NULL text) report counts of
    * 0 and a NULL score.
    *
    * Determinism: all three counts are exact integers from codegen'd
    * regexp expressions (no UDF); the score is ONE fixed double chain of
    * int/int IEEE divisions and literal coefficients — bit-identical in
    * any engine.
    *
    * Output: (idCol, n_words, n_sentences, n_syllables, flesch).
    *
    * Scale: per-row narrow projection — embarrassingly parallel, no
    * shuffle, no UDF. */
  /** Skip-gram co-occurrence counts — the (center, context) pair table
    * word2vec-family embedding training consumes: every ordered pair of
    * tokens within `window` positions of each other in the same
    * document, counted corpus-wide, thresholded at `minCount` (the
    * standard noise floor). Symmetric by construction (each unordered
    * co-occurrence yields both directions).
    *
    * Output: (center, context, n_pairs), n_pairs >= minCount.
    *
    * Scale: the naive formulation — equi-join tokens on the document
    * and filter |Δpos| <= window — materializes L² pairs per document
    * before filtering; instead each token EXPLODES into its 2·window
    * context POSITIONS and joins back on (doc, position) equality, so
    * the fanout is exactly 2·window per token, the join is a keyed
    * hash/sort join, and the count is one map-side-combined
    * aggregation. Tokenization: lowercase nonempty whitespace tokens
    * (the [[qualityFeatures]]/termCounts convention). */
  def skipGramPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int, minCount: Long): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val toks = docs.select(col(idCol).as("__d"),
      posexplode(whitespaceTokens(col(textCol))).as(Seq("__p", "__w")))
    val offs = (-window to window).filter(_ != 0).map(o => lit(o))
    val ctx = toks
      .select(col("__d"), col("__w").as("center"), col("__p"),
        explode(array(offs: _*)).as("__o"))
      .select(col("__d"), col("center"),
        (col("__p") + col("__o")).as("__cp"))
    val right = toks.select(col("__d"), col("__p").as("__cp"),
      col("__w").as("context"))
    ctx.join(right, Seq("__d", "__cp"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)
  }

  def fleschReadability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val txt = CaseMap.lower(coalesce(col(textCol), lit("")))
    val words = filter(split(txt, "\\s+"), w => w =!= "")
    docs.select(col(idCol),
        size(words).cast("long").as("n_words"),
        size(regexp_extract_all(txt, lit("[.!?]+"), lit(0)))
          .cast("long").as("n_sentences"),
        aggregate(
          transform(words, w =>
            greatest(lit(1L),
              size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0)))
                .cast("long"))),
          lit(0L), (acc, x) => acc + x).as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") /
                greatest(lit(1L), col("n_sentences")).cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double") /
                col("n_words").cast("double"))))
  }
}
