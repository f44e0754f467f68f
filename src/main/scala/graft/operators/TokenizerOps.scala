package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training over a document corpus — the
  * subword-vocabulary learning step every LLM data pipeline runs before
  * tokenizing (Sennrich et al. 2016; the HuggingFace `tokenizers` BPE
  * trainer has the same two-stage shape).
  *
  * Scale design: the ONLY corpus-sized work is the word-histogram
  * aggregation (one shuffle, map-side combined to vocabulary size per map
  * task — the standard trainer trick: BPE statistics depend only on the
  * word histogram, never on document order). Every merge round then runs
  * on the |V|-row vocabulary: one pair-count aggregation (reduce key space
  * = symbol-pair vocabulary), one 1-row argmax collect, one per-row
  * `replace` pass. Lineage is cut per round (the PageRank recipe, one
  * [[Caching.scope]]) so the plan stays constant-depth over any
  * merge count. At 100 TB the histogram is ~10M rows — trivially
  * vocabulary-bounded state.
  *
  * Exactness contract: merge selection ties break (count DESC, left ASC,
  * right ASC) — pure integer/string comparisons, so the learned merge
  * table is bit-identical at any partitioning and replayable by an
  * unrolled DuckDB oracle. Merge application is EXACT canonical greedy
  * BPE (leftmost-first within each word) via the doubled-separator
  * `replace` trick: a naive `replace(sym, ' a b ', ' ab ')` misses
  * immediately-consecutive occurrences because adjacent matches share
  * the sentinel space (' b a n a n a ' merging (a,n) stops at
  * ' b an a n a '), so instead every space is first doubled
  * (`' '`->`'  '`), the pair is replaced as `' a  b '`->`' ab '` — with
  * two-space boundaries consecutive matches no longer overlap, so
  * replace's earliest-non-overlapping scan IS the leftmost-greedy
  * pairing, including same-symbol runs ('aaaaa' with (a,a) ->
  * [aa, aa, a]) — and the doubles are collapsed back. Three nested
  * `replace` calls, identical semantics in Spark and DuckDB.
  *
  * Words are lowercased `[a-z0-9]+` runs (the corpus tokenizer shared
  * with [[SketchOps.tokens]]); symbols are spelled as a space-delimited
  * string with sentinel spaces (" h e l l o ") so a merge of (a, b) is
  * `replace(sym, " a b ", " ab ")` — symbols never contain spaces, so no
  * cross-boundary false matches are possible.
  */
object TokenizerOps {

  /** The canonical-greedy merge application as a SQL expression over a
    * sentinel-spaced symbol column: double separators, replace the pair
    * with doubled inner spaces, collapse. `symExpr`/`a`/`b` are spliced
    * into SQL — callers guarantee a/b are `[a-z0-9]+` symbols. Shared
    * verbatim (modulo the argmax subqueries) with the DuckDB oracle in
    * SketchQueries.bpeRound. */
  def mergeSql(symExpr: String, a: String, b: String): String =
    s"replace(replace(replace($symExpr, ' ', '  '), " +
      s"' $a  $b ', ' $a$b '), '  ', ' ')"

  /** Corpus word histogram (word, n) — the one corpus-wide shuffle. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.alnumWords(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** " h e l l o " — char symbols with sentinel spaces. */
  private def symbolize(word: Column): Column =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "))

  /** One learned merge: rank (1-based), the two merged symbols, their
    * concatenation, and the pre-merge pair count that won the round. */
  case class BpeMerge(
      merge_rank: Int, left_sym: String, right_sym: String,
      merged: String, n_pair: Long)

  /** Run the trainer loop: returns the merge list and the final
    * symbolized vocabulary (sym, n). Stops early only if no pairs remain
    * (every word fully merged) — callers pick numMerges well below that. */
  private def train(docs: DataFrame, textCol: String,
      numMerges: Int): (Seq[BpeMerge], DataFrame) = Caching.scope { s =>
    var vocab = s.cut(wordHistogram(docs, textCol)
      .select(col("word"), symbolize(col("word")).as("sym"), col("n")))
    val merges = scala.collection.mutable.ArrayBuffer[BpeMerge]()
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      // adjacent symbol pairs of every word, weighted by word count —
      // arrays_zip of the two shifted slices, a per-row expression
      val best = vocab
        .withColumn("syms", split(trim(col("sym")), " "))
        .select(col("n"), explode(expr(
          "arrays_zip(slice(syms, 1, size(syms) - 1), " +
            "slice(syms, 2, size(syms) - 1))")).as("pr"))
        .groupBy(col("pr.0").as("a"), col("pr.1").as("b"))
        .agg(sum("n").as("c"))
        .orderBy(desc("c"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        merges += BpeMerge(r, a, b, a + b, best(0).getLong(2))
        // symbols are [a-z0-9]+ concatenations — safe to interpolate
        vocab = s.cut(vocab
          .select(col("word"), expr(mergeSql("sym", a, b)).as("sym"),
            col("n")))
        s.keepOnly(vocab)
        r += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** The learned merge table: (merge_rank, left_sym, right_sym, merged,
    * n_pair), ranks 1..numMerges in training order. */
  def bpeMerges(docs: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _) = train(docs, textCol, numMerges)
    spark.createDataset(merges)(
      org.apache.spark.sql.Encoders.product[BpeMerge]).toDF()
  }

  /** Encode the corpus with the trained tokenizer — the apply terminal
    * step (train once, tokenize everything). Per document:
    * (idCol, n_word_tokens = word occurrences, n_bpe_tokens = subword
    * count after the merges, n_chars = alnum chars, chars_per_token_permille
    * = n_chars*1000 div n_bpe_tokens — the compression the tokenizer
    * achieves, the number a data pipeline budgets sequence lengths with).
    *
    * Scale: training as in [[bpeMerges]]; encoding joins the per-doc word
    * counts against the |V|-row trained vocabulary (word -> subword count)
    * — AQE broadcasts the vocab side when it is small, and the corpus side
    * carries only (id, word, count), never text. */
  def bpeEncodeCounts(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    val (_, vocab) = train(docs, textCol, numMerges)
    val wordLens = vocab.select(col("word"),
      size(split(trim(col("sym")), " ")).cast("long").as("n_sub"),
      length(col("word")).cast("long").as("n_ch"))
    val docWords = docs
      .select(col(idCol), explode(TextOps.alnumWords(col(textCol))).as("word"))
      .groupBy(idCol, "word").agg(count(lit(1)).as("k"))
    docWords.join(wordLens, "word")
      .groupBy(idCol)
      .agg(sum("k").as("n_word_tokens"),
        sum(col("k") * col("n_sub")).as("n_bpe_tokens"),
        sum(col("k") * col("n_ch")).as("n_chars"))
      .withColumn("chars_per_token_permille",
        expr("n_chars * 1000 div n_bpe_tokens"))
  }

  /** Post-training subword statistics: the topK tokens of the final
    * vocabulary by corpus occurrence — (token, n_words = word types
    * containing it, n_occurrences = corpus occurrences), ordered
    * (n_occurrences DESC, token ASC). */
  def bpeTokenStats(docs: DataFrame, textCol: String, numMerges: Int,
      topK: Int): DataFrame = {
    val (_, vocab) = train(docs, textCol, numMerges)
    vocab
      .select(col("n"), explode(split(trim(col("sym")), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_words"), sum("n").as("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("token"))
      .limit(topK)
  }

  /** Padding-waste audit for length-bucketed batching: given ascending
    * bucket capacities (e.g. 128, 256, 512, 1024), each document goes to
    * the SMALLEST capacity >= its length (longer documents overflow into
    * the largest bucket, truncated to it), and the report states per
    * bucket what fixed-shape batching costs — padded slots
    * (capacity - len, for docs that fit) and truncated units
    * (len - capacity, overflow docs only). This is the report a pipeline
    * reads before choosing sequence-length buckets: total waste across a
    * capacity grid is the padding-efficiency objective.
    *
    * Pure integer accounting; `waste_permille` is the one division
    * (padded + truncated per 1000 capacity units), computed as exact
    * integer permille.
    *
    * Scale: a per-row CASE over the bounded capacity list + ONE
    * map-side-combined aggregation; output is one row per bucket.
    * Output: (capacity, n_docs, sum_len, padded_units, truncated_units,
    * waste_permille). */
  def paddingWasteReport(docs: DataFrame, lenCol: String,
      capacities: Seq[Long]): DataFrame = {
    require(capacities.nonEmpty && capacities == capacities.sorted &&
      capacities.distinct == capacities && capacities.head > 0,
      s"capacities must be positive, ascending, distinct: $capacities")
    val len = col(lenCol).cast("long")
    val maxCap = capacities.last
    val cap = capacities.init.reverse.foldLeft(lit(maxCap)) { (acc, c) =>
      when(len <= c, lit(c)).otherwise(acc)
    }
    // NULL lengths are excluded: every CASE branch of `cap` is null for a
    // null length, which would fall through to the LARGEST capacity and
    // inflate that bucket's n_docs (the waste_permille denominator) while
    // adding nothing to sum_len/padded/truncated — silently breaking the
    // exact-integer-accounting contract.
    docs
      .filter(len.isNotNull)
      .select(cap.as("capacity"), len.as("__len"))
      .groupBy("capacity")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__len")).as("sum_len"),
        sum(greatest(col("capacity") - col("__len"), lit(0L)))
          .as("padded_units"),
        sum(greatest(col("__len") - col("capacity"), lit(0L)))
          .as("truncated_units"))
      .withColumn("waste_permille", expr(
        "(padded_units + truncated_units) * 1000L div (capacity * n_docs)"))
  }

  /** Out-of-vocabulary token rate of every source against a supplied
    * vocabulary — the "how much of this domain does my tokenizer not
    * know" audit run before mixing a source in. Tokens are the
    * whitespace words of the lowercased text (the
    * [[graft.operators.TextOps.tokenFrequencies]] convention); the rate
    * weights by OCCURRENCES, not vocabulary size, so a single
    * ultra-frequent unknown term shows up as the coverage problem it is.
    * `vocab` is any one-column relation of known terms (a persisted
    * tokenizer vocabulary, a [[graft.operators.TextOps.tokenFrequencies]]
    * head, another source's distinct terms) — deduplicated internally.
    *
    * Output: (source, n_tokens, oov_tokens, oov_permille) — permille by
    * integer division, engine-exact.
    *
    * Scale: tokens collapse to (source, term, count) via ONE map-side
    * combined aggregation (key space |sources| x corpus vocab, never a
    * row per occurrence past the combine); the membership check is a
    * left join of that reduced table against the distinct vocab
    * projection on term — both sides shrunk to vocabulary scale before
    * any shuffle, and a real tokenizer vocab (<= a few 100k terms)
    * broadcasts. */
  def oovRate(docs: DataFrame, textCol: String, sourceCol: String,
      vocab: DataFrame, vocabCol: String): DataFrame =
    oovFromCounts(termCounts(docs, textCol, sourceCol), vocab, vocabCol)

  /** The mergeable count phase of [[oovRate]]: (source, term, n) via one
    * map-side-combined aggregation. Counts ADD, so this phase doubles as
    * the streaming OOV monitor's state
    * ([[graft.streaming.EventStreams.streamingTermCounts]]); fold any
    * drained snapshot through [[oovFromCounts]] for the live report. */
  def termCounts(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.whitespaceTokens(col(textCol))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("n"))

  /** Finish [[oovRate]] from a [[termCounts]]-shaped relation
    * (source, term, n). */
  def oovFromCounts(counts: DataFrame, vocab: DataFrame,
      vocabCol: String): DataFrame = {
    val known = vocab.select(col(vocabCol).as("term")).distinct()
      .withColumn("__known", lit(1))
    counts.join(known, Seq("term"), "left")
      .groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("__known").isNull, col("n")).otherwise(0L))
          .as("oov_tokens"))
      .withColumn("oov_permille",
        expr("oov_tokens * 1000L div n_tokens"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing question: what
    * fraction of the corpus token MASS do the top-k types cover, for
    * each requested k? A 32k vocab that covers 995 permille means the
    * OOV/byte-fallback path handles 0.5 % of tokens; the curve says
    * where the knee is before committing to a vocab size.
    *
    * Exactness: types rank by (count desc, term) via
    * [[Quantiles.globalRank]]'s two-phase distributed rank (no
    * single-partition sort of the vocabulary, which at web scale is
    * hundreds of millions of types); each coverage value is one
    * conditional integer sum and an exact integer permille.
    * Tokenization is [[termCounts]]' (the shared-phase rule).
    *
    * Output per k (ascending): (k, n_types, covered_tokens,
    * total_tokens, coverage_permille).
    *
    * Scale: one map-side-combined term count, the range-exchange rank
    * over the (term, n) table, ONE aggregation with |ks| conditional
    * sums, and a |ks|-row explode of the single result row. */
  def vocabCoverage(docs: DataFrame, textCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0) && ks == ks.sorted,
      s"ks must be positive and ascending: $ks")
    val tc = docs
      .select(explode(TextOps.whitespaceTokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val ranked = Quantiles.globalRank(tc,
      Seq(col("n").desc, col("term")))
    val aggs = ks.map(k =>
      coalesce(sum(when(col("__grank") <= k.toLong, col("n"))), lit(0L))
        .as(s"__k$k"))
    val row = ranked.agg(
      coalesce(sum("n"), lit(0L)).as("__tot"),
      (count(lit(1)).as("__types") +: aggs): _*)
    row.select(explode(array(ks.map { k =>
        struct(lit(k.toLong).as("k"),
          col("__types").as("n_types"),
          col(s"__k$k").as("covered_tokens"),
          col("__tot").as("total_tokens"),
          when(col("__tot") === 0, lit(null).cast("long"))
            .otherwise(expr(s"__k$k * 1000L div __tot"))
            .as("coverage_permille"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Per-source lexical-richness profile: token mass, vocabulary size,
    * hapax legomena (terms seen exactly once), type-token ratio, and
    * hapax share — the cheap template/boilerplate detector (a source
    * whose TTR collapses is stamped from a template; a healthy natural
    * corpus keeps roughly half its vocabulary hapax, Zipf's tail). Both
    * ratios are int/int IEEE divisions of exact counts.
    *
    * Tokenization is [[termCounts]] VERBATIM (one definition — the
    * shared-phase rule), so these numbers are directly comparable with
    * the q170 OOV report and the streaming term-count state.
    *
    * Output per source: (source, n_tokens, n_types, n_hapax, ttr,
    * hapax_ratio).
    *
    * Scale: the (source, term) count is ONE map-side-combined shuffle;
    * the profile is one keyed aggregation over that grid. Nothing
    * buffers a vocabulary in memory. */
  def hapaxStats(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    termCounts(docs, textCol, sourceCol)
      .groupBy("source")
      .agg(sum("n").cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_ratio"))
}
