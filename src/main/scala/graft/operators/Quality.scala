package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functional.MayFail

/** Data-quality operators — the audit verbs that run before a corpus is
  * trusted: column profiling, declarative expectations, and violation
  * extraction.
  *
  * Scale posture: `profile` is ONE aggregation pass over the table (every
  * per-column statistic is an aggregate expression in the same
  * `df.agg(...)`, so the input is scanned once, map-side combined, and
  * the result is `#columns` slim rows); `expect`/`violations` are a
  * single filter/aggregate each. Nothing collects per-row data to the
  * driver.
  */
object Quality {

  /** One-pass column profile: `(column, n, n_null, n_distinct, min_str,
    * max_str)` per requested column, min/max rendered as strings so mixed
    * column types fit one result schema. `n_distinct` is exact (null
    * excluded, matching SQL `count(DISTINCT c)`). */
  def profile(df: DataFrame, cols: Seq[String]): MayFail[DataFrame] = MayFail {
    require(cols.nonEmpty, "profile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such column(s): ${missing.mkString(", ")}")
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"__n_$c"),
        count(when(col(c).isNull, 1)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single wide row into #columns long-format rows via an
    // inline stack - still a single job, no per-column scans
    val stacked = cols.map { c =>
      struct(lit(c).as("column"), col(s"__n_$c").as("n"),
        col(s"__nn_$c").as("n_null"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_str"), col(s"__mx_$c").as("max_str"))
    }
    one.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** A declarative expectation on a table: `name` labels the rule,
    * `predicate` must hold for every row. */
  final case class Expectation(name: String, predicate: Column)

  /** Check expectations in ONE pass: returns `(rule, n_violations,
    * pass)` per rule — a null predicate result counts as a violation
    * (unknown is not acceptance). */
  def expect(df: DataFrame, rules: Seq[Expectation]): MayFail[DataFrame] = MayFail {
    require(rules.nonEmpty, "expect needs at least one rule")
    val aggs = rules.map { r =>
      count(when(not(coalesce(r.predicate, lit(false))), 1)).as(r.name)
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.map { r =>
      struct(lit(r.name).as("rule"), col(r.name).as("n_violations"),
        (col(r.name) === 0).as("pass"))
    }
    one.select(explode(array(stacked: _*)).as("e")).select("e.*")
  }

  /** The rows violating ANY of the rules, tagged with the failed rule
    * names — the quarantine stream of a validation pipeline. */
  def violations(df: DataFrame, rules: Seq[Expectation]): MayFail[DataFrame] = MayFail {
    require(rules.nonEmpty, "violations needs at least one rule")
    val failed = array(rules.map { r =>
      when(not(coalesce(r.predicate, lit(false))), lit(r.name))
    }: _*)
    df.withColumn("failed_rules", filter(failed, c => c.isNotNull))
      .filter(size(col("failed_rules")) > 0)
  }

  /** Term-distribution drift between two corpus versions: the `topK`
    * terms by Jensen–Shannon divergence contribution — the monitor that
    * answers "did the new crawl shift the token distribution, and on
    * which words?" before a refreshed corpus reaches training.
    *
    * Per term: smoothed occurrence rates `p = (tf + 0.5) / (N + V/2)`
    * over the JOINT vocabulary (add-half smoothing keeps one-sided terms
    * finite), contribution `(p_a·ln(p_a/m) + p_b·ln(p_b/m)) / 2` with
    * `m = (p_a + p_b)/2`. Contributions are rounded to 9 digits BEFORE
    * ranking (term as tiebreak) so the top-K set is reproducible across
    * engines despite last-ulp `ln` differences.
    *
    * Scale shape: one tokenize+aggregate per corpus (shuffled on term),
    * a full outer join on term, a global top-K (TakeOrderedAndProject).
    * The totals row is one extra execution of the counts subtree —
    * snapshot the inputs first (Optimise.snapshot) when they are derived
    * frames rather than plain scans. Returns `(term, n_a, n_b,
    * js_contrib)`, largest drift first.
    */
  def termDrift(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      topK: Int = 50
  ): MayFail[DataFrame] = MayFail {
    require(topK > 0, s"topK must be positive: $topK")
    def counts(df: DataFrame): DataFrame =
      df.select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
    val ca = counts(a)
    val cb = counts(b)
    val joined = ca.select(col("term"), col("n").as("n_a"))
      .join(cb.select(col("term"), col("n").as("n_b")), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    // one tiny stats row: total tokens per side + joint vocabulary size
    val g = joined.agg(
      coalesce(sum(col("n_a")), lit(0L)).as("ta"),
      coalesce(sum(col("n_b")), lit(0L)).as("tb"),
      count(lit(1)).as("v")).head()
    val (ta, tb, v) = (g.getLong(0), g.getLong(1), g.getLong(2))
    val pa = (col("n_a") + 0.5) / (ta + v / 2.0)
    val pb = (col("n_b") + 0.5) / (tb + v / 2.0)
    val m = (pa + pb) / 2.0
    val contrib = round((pa * log(pa / m) + pb * log(pb / m)) / 2.0, 9)
    joined.withColumn("js_contrib", contrib)
      .orderBy(col("js_contrib").desc, col("term"))
      .limit(topK)
  }

  /** Gopher REPETITION rules (Rae et al. 2021, arXiv:2112.11446 table
    * A1, repetition section) — the other half of the Gopher filter set
    * ([[gopherFlags]] covers the quality rules): documents dominated by
    * repeated lines, paragraphs, or n-grams are crawler artifacts and
    * template spam, the highest-volume junk class in web corpora.
    *
    * Emitted per document: the 13 fractions (rounded to 6 digits) and
    * the conjunction `pass` over the paper's thresholds —
    * duplicate line/paragraph fraction ≤ 0.30, duplicate line/paragraph
    * CHARACTER fraction ≤ 0.20, top {2,3,4}-gram character fraction
    * ≤ {0.20, 0.18, 0.16}, duplicated {5..10}-gram character fraction
    * ≤ {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}.
    *
    * Definitions (replayed exactly by the oracle): lines split on `\n`,
    * paragraphs on `\n\n` (empties kept); duplicate fraction =
    * `(#items − #distinct) / #items`; duplicate character fraction =
    * (chars of occurrences beyond the first) / document chars; top
    * n-gram fraction = `count·len(gram)` of the most character-covering
    * REPEATED n-gram (count ≥ 2; 0 when nothing repeats — a unique gram
    * is not repetition) / document chars; duplicated n-gram fraction =
    * `Σ_{grams with count ≥ 2} count·len(gram)` / document chars,
    * capped at 1 (overlapping occurrences double-count chars — the
    * span-exact variant needs positional coverage; this is the standard
    * overlap-free approximation, applied identically on both engines).
    *
    * Scale shape: line/paragraph rules are pure column expressions; the
    * n-gram rules are ONE tagged explode (all 9 gram orders in a single
    * pass over the corpus) → one `(id, n, gram)` count aggregation →
    * one per-id pivot → one join back. Two shuffles total, independent
    * of how many gram orders are checked. */
  def gopherRepetitionFlags(
      df: DataFrame,
      textCol: String,
      idCol: String
  ): MayFail[DataFrame] = MayFail {
    val topN = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dupN = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
    val allN = (topN ++ dupN).map(_._1)

    val txt = coalesce(col(textCol), lit(""))
    val nchars = greatest(length(txt).cast("long"), lit(1L)).cast("double")
    def dupFrac(arr: Column): Column =
      (size(arr) - size(array_distinct(arr))).cast("double") /
        greatest(size(arr), lit(1)).cast("double")
    def charSum(arr: Column): Column =
      aggregate(arr, lit(0L), (a, x) => a + length(x).cast("long"))
    def dupCharFrac(arr: Column): Column =
      (charSum(arr) - charSum(array_distinct(arr))).cast("double") / nchars
    val lines = split(txt, "\n")
    val paras = split(txt, "\n\n")
    val base = df.select(col(idCol).as("id"), nchars.as("__nc"),
      dupFrac(lines).as("dup_line_frac"),
      dupCharFrac(lines).as("dup_line_char_frac"),
      dupFrac(paras).as("dup_para_frac"),
      dupCharFrac(paras).as("dup_para_char_frac"))

    // all 9 gram orders in ONE explode: (n, gram) structs, flattened
    val tagged = flatten(array(allN.map { n =>
      transform(graft.functions.TextFunctions.wordShingles(txt, n),
        g => struct(lit(n).as("n"), g.as("gram")))
    }: _*))
    val perN = df
      .select(col(idCol).as("id"), explode(tagged).as("t"))
      .select(col("id"), col("t.n").as("n"), col("t.gram").as("gram"))
      .groupBy("id", "n", "gram")
      .agg(count(lit(1)).as("c"))
      .withColumn("glen", length(col("gram")).cast("long"))
      .groupBy("id", "n")
      // top rule scores the most character-covering gram ONLY when it
      // actually repeats (count ≥ 2): a unique long gram is not
      // repetition, and on short documents it would fail every doc
      .agg(coalesce(max(when(col("c") >= 2, col("c") * col("glen"))), lit(0L))
          .as("top_chars"),
        coalesce(sum(when(col("c") >= 2, col("c") * col("glen"))), lit(0L))
          .as("dup_chars"))
    val pivotAggs: Seq[Column] =
      allN.map(n => max(when(col("n") === n, col("top_chars"))).as(s"__top$n")) ++
        allN.map(n => max(when(col("n") === n, col("dup_chars"))).as(s"__dup$n"))
    val wide = perN.groupBy("id").agg(pivotAggs.head, pivotAggs.tail: _*)

    val joined = base.join(wide, Seq("id"), "left")
    def topFrac(n: Int): Column =
      coalesce(col(s"__top$n"), lit(0L)).cast("double") / col("__nc")
    def dupGramFrac(n: Int): Column =
      least(coalesce(col(s"__dup$n"), lit(0L)).cast("double") / col("__nc"), lit(1.0))
    val pass =
      col("dup_line_frac") <= 0.30 && col("dup_para_frac") <= 0.30 &&
        col("dup_line_char_frac") <= 0.20 && col("dup_para_char_frac") <= 0.20 &&
        topN.map { case (n, t) => topFrac(n) <= t }.reduce(_ && _) &&
        dupN.map { case (n, t) => dupGramFrac(n) <= t }.reduce(_ && _)
    joined.select(
      col("id").as(idCol) +:
        round(col("dup_line_frac"), 6).as("dup_line_frac") +:
        round(col("dup_line_char_frac"), 6).as("dup_line_char_frac") +:
        round(col("dup_para_frac"), 6).as("dup_para_frac") +:
        round(col("dup_para_char_frac"), 6).as("dup_para_char_frac") +:
        (topN.map { case (n, _) => round(topFrac(n), 6).as(s"top_${n}gram_frac") } ++
          dupN.map { case (n, _) => round(dupGramFrac(n), 6).as(s"dup_${n}gram_frac") } :+
          pass.as("pass")): _*)
  }

  /** Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 table A1):
    * the standard pre-training document filter set, one boolean per rule
    * plus the conjunction — `(idCol, n_words, word_count_ok,
    * mean_word_len_ok, symbol_ratio_ok, bullet_ok, ellipsis_ok, alpha_ok,
    * stopword_ok, pass)`. Emit flags rather than dropping rows so a
    * pipeline can report WHICH rule rejected each document before
    * filtering on `pass`.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; `#`-to-word AND `...`-to-word ratios each ≤ 0.1 (the paper
    * thresholds each symbol separately); ≤ 90% of lines start with a
    * bullet; ≤ 30% of lines end with an ellipsis; ≥ 80% of words contain
    * an alphabetic character; ≥ 2 distinct of the eight required stop
    * words. A word-less (or null-text) document fails every
    * word-denominated rule with `false`, never null.
    *
    * Scale: one native codegen'd pass per document
    * ([[graft.functions.TextFunctions.gopherCounts]]) yields the nine
    * counts; the flags are column arithmetic on them. No shuffle, no
    * UDF, no interpreted lambda. A filter on a flag is pushed below the
    * counts and runs the kernel once per count reference, so checkpoint
    * the flags before filtering on them. */
  def gopherFlags(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minWords: Long = 50L,
      maxWords: Long = 100000L
  ): MayFail[DataFrame] = MayFail {
    // null text behaves as empty text so every flag is a real boolean
    // (a NULL pass would vanish from BOTH filter(pass) and filter(!pass))
    val g = "__gopher"
    val counted = df.select(col(idCol), graft.functions.TextFunctions.gopherCounts(
      coalesce(col(textCol), lit(""))).as(g))
    def n(field: String): Column = col(s"$g.$field")
    val nWords = n("words")
    val meanLen = n("word_chars").cast("double") / nWords.cast("double")
    val nLines = n("lines").cast("double")
    // a word-less document fails every word-denominated rule. The guard
    // is a CASE, not an AND: common-subexpression elimination may hoist
    // a division repeated under an AND (meanLen) out of its short circuit
    def perWord(rule: Column): Column = when(nWords > 0, rule).otherwise(false)
    val flags = Seq(
      (nWords >= minWords && nWords <= maxWords).as("word_count_ok"),
      perWord(meanLen.between(3.0, 10.0)).as("mean_word_len_ok"),
      perWord(
        n("hashes").cast("double") / nWords.cast("double") <= 0.1 &&
          n("ellipses").cast("double") / nWords.cast("double") <= 0.1)
        .as("symbol_ratio_ok"),
      (n("bullet_lines").cast("double") / nLines <= 0.9).as("bullet_ok"),
      (n("ellipsis_lines").cast("double") / nLines <= 0.3).as("ellipsis_ok"),
      perWord(n("alpha_words").cast("double") / nWords.cast("double") >= 0.8)
        .as("alpha_ok"),
      (n("stop_words") >= 2L).as("stopword_ok"))
    counted.select(col(idCol) +: nWords.as("n_words") +: flags: _*)
      .withColumn("pass",
        col("word_count_ok") && col("mean_word_len_ok") &&
          col("symbol_ratio_ok") && col("bullet_ok") && col("ellipsis_ok") &&
          col("alpha_ok") && col("stopword_ok"))
  }

  /** Drop every document whose URL's domain — or ANY parent domain —
    * appears in a blocklist table (listing `example.com` blocks
    * `a.b.example.com`): the standard web-corpus provenance filter
    * (adult/malware/spam domain lists run to millions of entries, so the
    * blocklist is a TABLE, not a literal).
    *
    * Scale posture: only slim `(id, suffix)` pairs explode (a hostname
    * has ~3-5 labels); the suffix⋈blocklist join broadcasts when the
    * list is small (AQE decides), the matched-id set is tiny and
    * `distinct`s on ids only, and the corpus itself moves once through
    * the final id anti-join — the text column never shuffles with the
    * match machinery. */
  def filterByDomainBlocklist(
      df: DataFrame,
      urlCol: String,
      idCol: String,
      blocklist: DataFrame,
      blDomainCol: String = "domain"): MayFail[DataFrame] = MayFail {
    import graft.functions.TextFunctions
    val sfx = "__bl_suffix"
    val hits = df
      .select(col(idCol), explode(
        TextFunctions.domainSuffixes(
          TextFunctions.urlDomain(col(urlCol)))).as(sfx))
      .join(blocklist.select(lower(col(blDomainCol)).as(sfx)), Seq(sfx), "left_semi")
      .select(idCol).distinct()
    df.join(hits, Seq(idCol), "left_anti")
  }

  /** Corpus-wide frequent word n-grams: the top-`topK` n-grams by total
    * occurrence count (with the distinct-document count alongside) —
    * the report that surfaces boilerplate phrases, spam templates, and
    * licence headers worth stripping before training. Whitespace
    * tokenization with the engine-portable explicit class (never `\s`),
    * optional lowercasing.
    *
    * Scale posture: the n-gram explode is map-side; the groupBy is ONE
    * shuffle with map-side partial aggregation (n-gram keys follow a
    * Zipf law, so partial combine collapses the head before it moves);
    * `minCount` prunes the long tail before the top-k, and the top-k is
    * a `TakeOrderedAndProject` (no global sort materializes). The
    * distinct-doc count rides the same shuffle as a two-level partial
    * aggregate. */
  def frequentNgrams(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      topK: Int = 100,
      minCount: Long = 2L,
      lowercase: Boolean = true): MayFail[DataFrame] = MayFail {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    // native one-pass gram kernel (graft.functions.WordNgrams): the
    // split/slice/array_join formulation evaluated interpreted lambdas
    // per gram position — 8× the whole query's cost at sf0.1 (q143
    // 3.66 s → 0.45 s when it became this one codegen'd expression)
    val grams = graft.functions.TextFunctions.wordNgrams(col(textCol), n, lowercase)
    df.select(col(idCol), explode(grams).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_occurrences") >= minCount)
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(topK)
  }

  /** Fixed-bin histogram of a numeric column over [lo, hi): `nBins`
    * equal-width bins, under/overflow clamped into the edge bins, nulls
    * dropped. Returns `(bin, bin_lo, bin_hi, n)` with every bin present
    * (empty bins report 0) — the fixed frame a drift dashboard diffs
    * round-over-round. The bin arithmetic is plain IEEE floor/clamp, so
    * any engine replays the assignment bit-for-bit; ONE partial-agg
    * shuffle of at most nBins keys.
    */
  def histogram(
      df: DataFrame,
      valueCol: String,
      nBins: Int,
      lo: Double,
      hi: Double): MayFail[DataFrame] = MayFail {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val w = (hi - lo) / nBins
    val bin = least(greatest(
      floor((col(valueCol).cast("double") - lit(lo)) / lit(w)), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("int")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    val frame = df.sparkSession.range(nBins).select(col("id").cast("int").as("bin"))
    frame.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        round(lit(lo) + col("bin") * lit(w), 6).as("bin_lo"),
        round(lit(lo) + (col("bin") + 1) * lit(w), 6).as("bin_hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** EXACT percentiles at scale — the deterministic alternative to
    * `approxQuantile` for threshold decisions that must be
    * reproducible (length cutoffs, quality floors, dedup thresholds):
    * for each requested p the lower order statistic `x_(⌈p·n⌉)` (p = 0
    * → the minimum), computed at DISTINCT-VALUE granularity — one
    * partial-agg shuffle to the (value, count) grid, one running-count
    * window over the GRID (never the rows), and a broadcast-scale
    * pick. A 10¹⁰-row column over a bounded value domain (lengths,
    * scores, cents) windows over its value grid only. For UNBOUNDED
    * continuous domains (the grid ≈ the data) use [[percentilesApprox]]
    * — the DDSketch path whose state is bucket-count-sized regardless
    * of data size.
    *
    * Returns one row per requested percentile:
    * `(p: double, rank: bigint, value: double)` — `rank` = ⌈p·n⌉
    * (clamped to ≥ 1), NULL value only on an empty input.
    */
  def percentiles(
      df: DataFrame,
      valueCol: String,
      ps: Seq[Double]
  ): MayFail[DataFrame] = MayFail {
    require(ps.nonEmpty, "ps must name at least one percentile")
    require(ps.forall(p => p >= 0 && p <= 1), s"percentiles must be in [0,1]: $ps")
    require(ps.distinct.size == ps.size, s"duplicate percentiles: $ps")
    val v = col(valueCol).cast("double")
    val grid = df.filter(v.isNotNull)
      .groupBy(v.as("__v")).agg(count(lit(1)).as("__t"))
    val upto = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = grid.agg(coalesce(sum(col("__t")), lit(0L)).as("__n"))
    val cum = grid
      .withColumn("__cum", sum(col("__t")).over(upto))
      .crossJoin(broadcast(total))
    val wanted = df.sparkSession
      .createDataFrame(ps.map(Tuple1.apply)).toDF("p")
    // rank = ceil(p·n) clamped to >= 1; the percentile value is the
    // FIRST grid row whose running count reaches the rank
    val ranked = wanted.crossJoin(broadcast(total))
      .withColumn("rank",
        greatest(ceil(col("p") * col("__n")).cast("long"), lit(1L)))
    // stream the grid once against the BROADCAST rank list (exactly one
    // grid row matches each rank); a final left join restores the
    // empty-input rows with NULL value
    val hits = cum.join(broadcast(ranked),
        col("__cum") >= col("rank") &&
          col("__cum") - col("__t") < col("rank"))
      .select(col("p"), col("__v").as("value"))
    ranked.select("p", "rank")
      .join(hits, Seq("p"), "left")
      .select("p", "rank", "value")
  }

  /** Percentiles for UNBOUNDED continuous domains — [[percentiles]]'
    * sketch-backed sibling: the exact path windows over the
    * distinct-value grid, which is the data size itself when values
    * never repeat (raw floats, embeddings norms, timings), so its
    * global grid window degenerates into a full single-partition sort.
    * This variant answers from a [[Sketch.ddHistogram]] (≤ ~35k bucket
    * rows at α = 0.01 over the entire double range, regardless of data
    * size) with a stated relative-error guarantee α, deterministic and
    * merge-exact — the same numbers any shard-built histogram would
    * give. Returns `(p, value)` where `value` is within `α·|exact|` of
    * the exact p-quantile value. */
  def percentilesApprox(
      df: DataFrame,
      valueCol: String,
      ps: Seq[Double],
      alpha: Double = 0.01
  ): MayFail[DataFrame] =
    Sketch.ddQuantiles(df, valueCol, ps, alpha)
      .map(_.select(col("q").as("p"), col("estimate").as("value")))

  /** [[profile]] per group — the per-source / per-language quality
    * dashboard: one row per (group, column) with the same statistics.
    * Still ONE aggregation pass (all per-column aggregates ride the same
    * groupBy; the long format comes from an inline stack above the agg,
    * never a per-column rescan). */
  def profileBy(
      df: DataFrame,
      keyCols: Seq[String],
      cols: Seq[String]): MayFail[DataFrame] = MayFail {
    require(keyCols.nonEmpty, "profileBy needs at least one key column")
    require(cols.nonEmpty, "profileBy needs at least one column")
    val missing = (keyCols ++ cols).filterNot(df.columns.contains)
    require(missing.isEmpty, s"profileBy: no such column(s): ${missing.mkString(", ")}")
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"__n_$c"),
        count(when(col(c).isNull, 1)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"), col(s"__n_$c").as("n"),
        col(s"__nn_$c").as("n_null"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_str"), col(s"__mx_$c").as("max_str"))
    }
    one.select(keyCols.map(col) :+ explode(array(stacked: _*)).as("p"): _*)
      .select(keyCols.map(col) :+ col("p.*"): _*)
  }

  /** Population Stability Index between a reference and a current
    * corpus over a shared fixed-bin histogram: `Σ (p−q)·ln(p/q)` with
    * the standard ε-floor on empty bins (PSI is undefined at 0; the
    * floor keeps a vanished bin a large-but-finite signal). Rule of
    * thumb: < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted. Returns
    * one row per bin (p, q, contribution) plus the total via a window —
    * the drill-down a drift alert needs, not just the scalar.
    * Two histogram passes (one per side), nothing else. */
  def histogramPsi(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      nBins: Int,
      lo: Double,
      hi: Double,
      eps: Double = 1e-4): MayFail[DataFrame] =
    for {
      h1 <- histogram(ref, valueCol, nBins, lo, hi)
      h2 <- histogram(cur, valueCol, nBins, lo, hi)
    } yield {
      val joined = h1.select(col("bin"), col("bin_lo"), col("bin_hi"),
          col("n").as("n_ref"))
        .join(h2.select(col("bin"), col("n").as("n_cur")), Seq("bin"))
      val tot = Window.partitionBy()
      val p = greatest(col("n_ref") / sum(col("n_ref")).over(tot), lit(eps))
      val q = greatest(col("n_cur") / sum(col("n_cur")).over(tot), lit(eps))
      joined
        .withColumn("p", round(p, 6))
        .withColumn("q", round(q, 6))
        .withColumn("psi_contrib", round((p - q) * log(p / q), 6))
        .withColumn("psi_total",
          round(sum((p - q) * log(p / q)).over(tot), 6))
        .select("bin", "bin_lo", "bin_hi", "n_ref", "n_cur",
          "p", "q", "psi_contrib", "psi_total")
    }

  /** Categorical drift report between a reference and a current frame
    * — the categorical counterpart of [[histogramPsi]], for monitoring
    * lang / source / label mix shift between training snapshots: per
    * category (union of both sides, zero-filled, NULL as the literal
    * `<null>` category) the counts, ε-floored shares, PSI contribution
    * and total, plus the two-sample homogeneity χ² over the same grid.
    *
    * Returns `(category, n_ref, n_cur, p, q, psi_contrib, psi_total,
    * chi2_total)` ordered by category. Counts are exact; the PSI/χ²
    * terms are grid-sized float sums (χ²-tier — the grid is category
    * cardinality, never rows).
    *
    * Plan: two partial-agg shuffles to the category grids, one
    * full-outer grid join, grid-sized windows.
    */
  def categoricalDrift(
      ref: DataFrame,
      cur: DataFrame,
      catCol: String,
      eps: Double = 1e-4
  ): MayFail[DataFrame] = MayFail {
    require(eps > 0, s"eps must be positive: $eps")
    def grid(df: DataFrame, out: String): DataFrame =
      df.select(coalesce(col(catCol).cast("string"), lit("<null>"))
          .as("category"))
        .groupBy("category").agg(count(lit(1)).as(out))
    val j = grid(ref, "n_ref").join(grid(cur, "n_cur"), Seq("category"), "full")
      .select(col("category"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = Window.partitionBy()
    val nr = sum(col("n_ref")).over(tot)
    val nc = sum(col("n_cur")).over(tot)
    val p = greatest(col("n_ref") / nr, lit(eps))
    val q = greatest(col("n_cur") / nc, lit(eps))
    val ti = (col("n_ref") + col("n_cur")).cast("double")
    val er = nr * ti / (nr + nc)
    val ec = nc * ti / (nr + nc)
    val chi = (col("n_ref") - er) * (col("n_ref") - er) / er +
      (col("n_cur") - ec) * (col("n_cur") - ec) / ec
    j.withColumn("p", round(p, 6))
      .withColumn("q", round(q, 6))
      .withColumn("psi_contrib", round((p - q) * log(p / q), 6))
      .withColumn("psi_total",
        round(sum((p - q) * log(p / q)).over(tot) + lit(1e-9), 6))
      .withColumn("chi2_total",
        round(sum(chi).over(tot) + lit(1e-9), 4))
      .select("category", "n_ref", "n_cur", "p", "q",
        "psi_contrib", "psi_total", "chi2_total")
  }

  /** Column entropy / uniqueness report — the information-theoretic
    * extension of [[profileBy]]: per column the Shannon entropy (nats)
    * of its value distribution, the distinct count, and the heaviest
    * value's share. Reads: entropy ≈ 0 + top_share ≈ 1 → the column is
    * near-constant (drop it); entropy ≈ ln(n_distinct) → uniform;
    * n_distinct ≈ n → a key. The pre-join/pre-groupBy companion to
    * [[skewReport]] when you want one number per column instead of the
    * top-K drill-down.
    *
    * Returns one row per column:
    * `(column: string, n, n_distinct: bigint, entropy, top_share:
    * double)` — NULLs excluded from all statistics; `entropy` computed
    * as `ln N − (Σ cᵢ·ln cᵢ)/N` (one extra sum on the grid, no
    * per-row probabilities), NULL on an empty column.
    *
    * Plan: one partial-agg shuffle per column to its value grid (each
    * collapses map-side), then a grid-sized reduction; the per-column
    * frames union into one result. Counts exact; the entropy sum is
    * χ²-tier.
    */
  def entropyReport(
      df: DataFrame,
      cols: Seq[String]
  ): MayFail[DataFrame] = MayFail {
    require(cols.nonEmpty, "entropyReport needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"entropyReport: no such column(s): ${missing.mkString(", ")}")
    cols.map { c =>
      val grid = df.filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("__v"))
        .agg(count(lit(1)).as("__n"))
      grid.agg(
          coalesce(sum(col("__n")), lit(0L)).as("n"),
          count(lit(1)).as("n_distinct"),
          coalesce(max(col("__n")), lit(0L)).as("__top"),
          coalesce(sum(col("__n") * log(col("__n"))), lit(0.0)).as("__s"))
        .select(lit(c).as("column"), col("n"), col("n_distinct"),
          when(col("n") > 0,
            log(col("n")) - col("__s") / col("n")).as("entropy"),
          when(col("n") > 0,
            col("__top").cast("double") / col("n")).as("top_share"))
    }.reduce(_ unionByName _)
  }

  /** PSI drift over EQUAL-FREQUENCY bins — the production-standard
    * form of [[histogramPsi]]: bin edges are the reference corpus's
    * own `i/nBins` quantiles (exact order statistics via the
    * [[percentiles]] grid machinery, so thresholds are reproducible),
    * which makes every reference bin carry ~1/nBins of the mass and
    * the PSI insensitive to the value range — no lo/hi guessing, and
    * tail drift is weighted the same as body drift.
    *
    * Returns one row per bin:
    * `(bin: int, lo, hi: double, n_ref, n_cur: bigint, p, q,
    * psi_contrib, psi_total: double)` — `lo`/`hi` are the interior
    * edge values (NULL at the open ends); bin `i` holds values `v`
    * with `edge_{i-1} < v ≤ edge_i`. Heavy ties can produce duplicate
    * edges and thus structurally empty bins — the ε-floor keeps their
    * PSI finite (document-level mass collapse IS drift signal).
    *
    * Plan: one partial-agg shuffle per side to the value grids, the
    * edge pick on the REF grid (grid-sized window), and a bounded
    * driver-side edge collect (nBins−1 doubles) folded into a
    * branch-free bin expression both sides share — counts exact, PSI
    * χ²-tier.
    */
  def quantileDrift(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      nBins: Int = 10,
      eps: Double = 1e-4
  ): MayFail[DataFrame] = MayFail {
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    require(eps > 0, s"eps must be positive: $eps")
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val edges = percentiles(ref, valueCol, ps).get
      .select("p", "value").collect()
      .sortBy(_.getDouble(0))
      .map(r => if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    require(!edges.exists(_.isNaN), "quantileDrift: empty reference corpus")
    val v = col(valueCol).cast("double")
    // bin = number of interior edges strictly below v (0 .. nBins-1)
    val bin = edges.map(e => when(v > lit(e), 1).otherwise(0))
      .reduce(_ + _).cast("int")
    def counts(df: DataFrame, out: String): DataFrame =
      df.filter(v.isNotNull).groupBy(bin.as("bin"))
        .agg(count(lit(1)).as(out))
    val frame = ref.sparkSession.range(nBins)
      .select(col("id").cast("int").as("bin"))
    val j = frame
      .join(counts(ref, "n_ref"), Seq("bin"), "left")
      .join(counts(cur, "n_cur"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val lo = when(col("bin") > 0,
      element_at(lit(edges), col("bin")))
    val hi = when(col("bin") < nBins - 1,
      element_at(lit(edges), col("bin") + 1))
    val tot = Window.partitionBy()
    val p = greatest(col("n_ref") / sum(col("n_ref")).over(tot), lit(eps))
    val q = greatest(col("n_cur") / sum(col("n_cur")).over(tot), lit(eps))
    j.withColumn("lo", lo)
      .withColumn("hi", hi)
      .withColumn("p", round(p + lit(1e-9), 6))
      .withColumn("q", round(q + lit(1e-9), 6))
      .withColumn("psi_contrib",
        round((p - q) * log(p / q) + lit(1e-9), 6))
      .withColumn("psi_total",
        round(sum((p - q) * log(p / q)).over(tot) + lit(1e-9), 6))
      .select("bin", "lo", "hi", "n_ref", "n_cur", "p", "q",
        "psi_contrib", "psi_total")
  }

  /** Referential-integrity screen for a foreign-key relationship —
    * run BEFORE joining 100 TB on the key: reports how many child rows
    * have no matching parent (orphans), how many carry a NULL key (a
    * join silently drops them), and the distinct orphan-key count.
    * Returns ONE row, all exact counts:
    * `(n_child, n_null_key, n_orphans, n_orphan_keys, orphan_share:
    * double)` — `orphan_share` over the non-null-keyed rows.
    *
    * Plan: child grid via one partial-agg shuffle on the key, then a
    * LEFT ANTI join of the grid (not the rows) against the parent
    * keys — a 10¹⁰-row child with a bounded key domain anti-joins its
    * key grid only.
    */
  def referentialIntegrity(
      child: DataFrame,
      childKey: String,
      parent: DataFrame,
      parentKey: String
  ): MayFail[DataFrame] = MayFail {
    val nulls = child.agg(count(lit(1)).as("n_child"),
      count(when(col(childKey).isNull, 1)).as("n_null_key"))
    val grid = child.filter(col(childKey).isNotNull)
      .groupBy(col(childKey).as("__k")).agg(count(lit(1)).as("__n"))
    val orphans = grid.join(
        parent.select(col(parentKey).as("__k")).distinct(),
        Seq("__k"), "left_anti")
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n_orphans"),
        count(lit(1)).as("n_orphan_keys"))
    nulls.crossJoin(broadcast(orphans))
      .select(col("n_child"), col("n_null_key"), col("n_orphans"),
        col("n_orphan_keys"),
        round(when(col("n_child") > col("n_null_key"),
          col("n_orphans").cast("double") /
            (col("n_child") - col("n_null_key"))).otherwise(lit(0.0))
          + lit(1e-9), 6).as("orphan_share"))
  }

  /** Privacy-governance screen: k-anonymity and l-diversity of a
    * quasi-identifier combination. Rows whose quasi-identifier
    * equivalence class has fewer than `k` members are re-identifiable;
    * classes whose sensitive attribute shows fewer than `l` distinct
    * values leak it even at size ≥ k. Returns ONE row:
    * `(n_rows, n_classes, min_class_size, n_small_classes,
    * rows_at_risk, min_diversity, n_low_diversity_classes)` — all
    * exact counts. Run this before releasing or training on any table
    * carrying user attributes.
    *
    * Plan: one partial-agg shuffle to the equivalence classes (count +
    * distinct-sensitive per class), one tiny reduction. Class
    * cardinality is bounded by the quasi-identifier value space.
    */
  def anonymityReport(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      k: Long,
      l: Long
  ): MayFail[DataFrame] = MayFail {
    require(quasiCols.nonEmpty, "quasiCols must name at least one column")
    require(k >= 1, s"k must be >= 1: $k")
    require(l >= 1, s"l must be >= 1: $l")
    val classes = df
      .groupBy(quasiCols.map(c =>
        coalesce(col(c).cast("string"), lit("<null>")).as(c)): _*)
      .agg(count(lit(1)).as("__size"),
        countDistinct(col(sensitiveCol)).as("__div"))
    classes.agg(
      sum(col("__size")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      min(col("__size")).as("min_class_size"),
      count(when(col("__size") < k, 1)).as("n_small_classes"),
      coalesce(sum(when(col("__size") < k, col("__size"))), lit(0L))
        .as("rows_at_risk"),
      min(col("__div")).as("min_diversity"),
      count(when(col("__div") < l, 1)).as("n_low_diversity_classes"))
  }

  /** Shuffle-skew diagnosis for a prospective join/agg key: the top-K
    * heaviest key values with their share and cumulative share of all
    * rows, plus the total row and distinct-key counts. Read this BEFORE
    * shuffling 100 TB on the key — a top share of 0.2 means one reducer
    * gets a fifth of the data and the job needs salting or AQE skew
    * handling ([[graft.physical.Optimise]].saltedJoin).
    *
    * Returns `(rank, key: string, n, total, n_distinct, share,
    * cum_share)`, `topK` rows, heaviest first (key string as the
    * deterministic tiebreak). One partial-agg shuffle on the key; the
    * top-K reduction and the share windows run on the K-row frame.
    */
  def skewReport(
      df: DataFrame,
      keyCols: Seq[String],
      topK: Int = 10
  ): MayFail[DataFrame] = MayFail {
    require(keyCols.nonEmpty, "keyCols must name at least one column")
    require(topK >= 1, s"topK must be >= 1: $topK")
    val keyStr = concat_ws("|",
      keyCols.map(c => coalesce(col(c).cast("string"), lit("<null>"))): _*)
    val counts = df.groupBy(keyStr.as("key")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(coalesce(sum("n"), lit(0L)).as("total"),
      count(lit(1)).as("n_distinct"))
    val ord = Seq(col("n").desc, col("key"))
    val wRank = Window.orderBy(ord: _*)
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.orderBy(ord: _*).limit(topK)
      .crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("__cum", sum(col("n")).over(wCum))
      .select(col("rank"), col("key"), col("n"), col("total"),
        col("n_distinct"),
        round(col("n") / col("total") + lit(1e-9), 4).as("share"),
        round(col("__cum") / col("total") + lit(1e-9), 4).as("cum_share"))
  }

  /** Tukey-fence outlier report per column: exact Q1/Q3 (the
    * [[percentiles]] lower order statistic ⌈p·n⌉ — reproducible, not
    * `approxQuantile`), the `k`·IQR fences, and how many rows fall
    * outside each — the first question about any numeric column before
    * trusting its aggregates. `k = 1.5` is Tukey's inner fence; 3.0
    * the "far out" fence.
    *
    * Returns one row per column: `(column, n, q1, q3, lo_fence,
    * hi_fence, n_low, n_high)` — NULL quartiles/fences and zero counts
    * for an all-null column. Order statistics are exact data values
    * and the fence arithmetic a fixed IEEE chain — gate unrounded.
    *
    * Plan: per column one grid reduction + one count pass against the
    * broadcast fences; columns are unioned (a handful of slim passes,
    * not a per-row rescan per statistic).
    */
  def outlierReport(
      df: DataFrame,
      cols: Seq[String],
      k: Double = 1.5
  ): MayFail[DataFrame] = MayFail {
    require(cols.nonEmpty, "cols must name at least one column")
    require(k > 0, s"k must be > 0: $k")
    cols.map { c =>
      val v = col(c).cast("double")
      val qs = percentiles(df, c, Seq(0.25, 0.75)).get
        .groupBy()
        .agg(max(when(col("p") === 0.25, col("value"))).as("q1"),
          max(when(col("p") === 0.75, col("value"))).as("q3"))
        .withColumn("lo_fence",
          col("q1") - lit(k) * (col("q3") - col("q1")))
        .withColumn("hi_fence",
          col("q3") + lit(k) * (col("q3") - col("q1")))
      df.select(v.as("__v")).crossJoin(broadcast(qs))
        .agg(
          count(col("__v")).as("n"),
          first(col("q1")).as("q1"), first(col("q3")).as("q3"),
          first(col("lo_fence")).as("lo_fence"),
          first(col("hi_fence")).as("hi_fence"),
          coalesce(sum(when(col("__v") < col("lo_fence"), 1L)), lit(0L))
            .as("n_low"),
          coalesce(sum(when(col("__v") > col("hi_fence"), 1L)), lit(0L))
            .as("n_high"))
        .select(lit(c).as("column"), col("n"), col("q1"), col("q3"),
          col("lo_fence"), col("hi_fence"), col("n_low"), col("n_high"))
    }.reduce(_ unionByName _)
  }

  /** Classic readability scores per document — Flesch reading ease and
    * Flesch–Kincaid grade, from three PORTABLE regex counts (the same
    * heuristic tier as [[gopherFlags]]; real syllabification is
    * dictionary work, and corpus-quality screens only need a stable
    * monotone proxy):
    *
    *  - words      = runs of non-whitespace
    *  - sentences  = runs of `[.!?]` (floored at 1 when the text has
    *    words — headlines and fragments count as one sentence)
    *  - syllables  = vowel-group runs `[aeiouy]+` of the lowercased
    *    text (no silent-e / diphthong corrections — documented proxy)
    *
    * Returns `(idCols…, n_words, n_sentences, n_syllables: bigint,
    * flesch, fk_grade: double)` — NULL scores when the text has no
    * words. Flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W); FK grade =
    * 0.39·(W/S) + 11.8·(Y/W) − 15.59. The ratios divide exact longs,
    * so the scores are deterministic IEEE chains — gate-stable
    * unrounded.
    *
    * Plan: three codegen'd regexp counts per row, no shuffle at all —
    * a pure map over the corpus, trivially 100 TB-safe.
    */
  def readability(
      df: DataFrame,
      textCol: String,
      idCols: Seq[String]
  ): MayFail[DataFrame] = MayFail {
    require(idCols.nonEmpty, "idCols must name at least one column")
    val t = col(textCol)
    val w = col("n_words").cast("double")
    val s = col("n_sentences").cast("double")
    val y = col("n_syllables").cast("double")
    df.filter(t.isNotNull)
      .select(idCols.map(col) :+
        regexp_count(t, lit("[^ \\t\\n\\r\\f]+")).cast("long")
          .as("n_words") :+
        regexp_count(t, lit("[.!?]+")).cast("long").as("__sraw") :+
        regexp_count(lower(t), lit("[aeiouy]+")).cast("long")
          .as("n_syllables"): _*)
      .withColumn("n_sentences",
        when(col("n_words") > 0, greatest(lit(1L), col("__sraw")))
          .otherwise(lit(0L)))
      .select(idCols.map(col) :+ col("n_words") :+ col("n_sentences") :+
        col("n_syllables") :+
        when(col("n_words") > 0,
          lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / w))
          .as("flesch") :+
        when(col("n_words") > 0,
          lit(0.39) * (w / s) + lit(11.8) * (y / w) - lit(15.59))
          .as("fk_grade"): _*)
  }

  /** THE regex-tier PII contract shared by [[piiScan]] and [[piiRedact]]
    * (and replayed literally by their oracles): `(class, pattern,
    * placeholder)` applied IN ORDER, each step operating on the previous
    * step's redacted text — so a span can only ever count/redact as ONE
    * class, and scan counts equal redaction replacements by
    * construction. Patterns stay in the Java-regex ∩ RE2 common subset
    * (`\b`, `\d`, bounded repetition, character classes — no lookaround,
    * no backrefs) so any engine replays them byte-identically on ASCII
    * text. A regex tier catches FORMATTED identifiers only — the
    * documented scope (the presidio-class recognizer set's regex layer);
    * contextual/NER detection is a model concern, not an engine one.
    * The column-level quick scrub (2 classes, one untyped token, for
    * inline expression use) is
    * [[graft.functions.TextFunctions.redactPII]]; this operator tier
    * adds typed placeholders, per-class counts, and the audit gate. */
  private[graft] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "[SSN]"),
    ("ccard", "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b", "[CARD]"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "[PHONE]"))

  /** Per-document PII scan over the [[piiPatterns]] contract: how many
    * formatted identifiers of each class the text carries —
    * `(idCols…, n_email, n_ipv4, n_ssn, n_ccard, n_phone, n_pii:
    * bigint, has_pii: boolean)`. Counts are measured on the
    * PROGRESSIVELY REDACTED text (class k counts on the text with
    * classes 1..k−1 already replaced), so overlapping spans resolve by
    * the contract order and `n_pii` is exactly the number of
    * replacements [[piiRedact]] performs.
    *
    * Plan: a fixed chain of codegen'd regexp counts/replaces per row —
    * a pure map over the corpus, no shuffle, trivially 100 TB-safe. */
  def piiScan(
      df: DataFrame,
      textCol: String,
      idCols: Seq[String]
  ): MayFail[DataFrame] = MayFail {
    require(idCols.nonEmpty, "idCols must name at least one column")
    val start = df.filter(col(textCol).isNotNull)
      .select(idCols.map(col) :+ col(textCol).as("__t0"): _*)
    val (scanned, _) = piiPatterns.zipWithIndex.foldLeft((start, "__t0")) {
      case ((d, tcol), ((cls, pat, rep), i)) =>
        val next = s"__t${i + 1}"
        (d.withColumn(s"n_$cls",
            regexp_count(col(tcol), lit(pat)).cast("long"))
          .withColumn(next, regexp_replace(col(tcol), pat, rep)), next)
    }
    val total = piiPatterns.map { case (cls, _, _) => col(s"n_$cls") }
      .reduce(_ + _)
    scanned.select(idCols.map(col) ++
      piiPatterns.map { case (cls, _, _) => col(s"n_$cls") } :+
      total.as("n_pii") :+ (total > 0).as("has_pii"): _*)
  }

  /** Redact all [[piiPatterns]] classes from `textCol` (in contract
    * order) into typed placeholders, preserving every other column —
    * the curation-time scrubber paired with [[piiScan]]'s counts. Same
    * no-shuffle pure-map plan. */
  def piiRedact(
      df: DataFrame,
      textCol: String
  ): MayFail[DataFrame] = MayFail {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, rep)) => regexp_replace(c, pat, rep)
    }
    df.withColumn(textCol, when(col(textCol).isNotNull, redacted))
  }

  /** Robust outlier report per group — median/MAD modified z-scores
    * (Iglewicz–Hoaglin `0.6745·(x − med)/MAD`), the heavy-tail-safe
    * companion to [[outlierReport]]'s Tukey fences (MAD has a 50%
    * breakdown point; quartile fences already distort at ~25%
    * contamination).
    *
    * Returns one row per group: `(by…, n: bigint, median, mad:
    * double, n_outliers: bigint, max_abs_z: double)` — `n_outliers`
    * counts rows with `|z| > threshold`; a zero-MAD group (> half the
    * values identical) yields NULL z for every row: 0 outliers, NULL
    * `max_abs_z`. THRESHOLDING CONVENTION: z is rounded to 9 digits
    * (1e-12 tie-shift) before the comparison — a raw-double threshold
    * sits one ulp from flipping when a score's rational equals it
    * exactly (the q260 linkage lesson).
    *
    * Plan: the [[skewReport]]-tier exact medians — each group's median
    * and MAD come from its DISTINCT-VALUE grid with running-count
    * windows PARTITIONED BY GROUP (the `leveneTest` device: sorts
    * parallelize across groups, a 10¹⁰-row frame pays its value grid
    * only), then one join back and one aggregation. Two grid passes
    * (median, then MAD), three shuffles total.
    */
  def madOutliers(
      df: DataFrame,
      valueCol: String,
      by: Seq[String] = Nil,
      threshold: Double = 3.5
  ): MayFail[DataFrame] = MayFail {
    require(threshold > 0, s"threshold must be > 0: $threshold")
    val groups = if (by.isEmpty) Seq("__all") else by
    val v = col(valueCol).cast("double")
    val base0 = df.filter(v.isNotNull)
      .select(by.map(col) :+ v.as("__v"): _*)
    val base = if (by.isEmpty) base0.withColumn("__all", lit(0)) else base0
    def gridMedian(frame: DataFrame, vc: String, out: String): DataFrame = {
      val grid = frame.groupBy(groups.map(col) :+ col(vc): _*)
        .agg(count(lit(1)).as("__t"))
      val upto = Window.partitionBy(groups.map(col): _*).orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.withColumn("__c", sum(col("__t")).over(upto))
        .withColumn("__n", sum(col("__t")).over(
          Window.partitionBy(groups.map(col): _*)))
      val r1 = expr("(__n + 1) div 2")
      val r2 = expr("__n div 2 + 1")
      val m1 = cum.filter(col("__c") >= r1 && col("__c") - col("__t") < r1)
        .select(groups.map(col) :+ col(vc).as("__m1"): _*)
      val m2 = cum.filter(col("__c") >= r2 && col("__c") - col("__t") < r2)
        .select(groups.map(col) :+ col(vc).as("__m2"): _*)
      m1.join(m2, groups)
        .select(groups.map(col) :+
          ((col("__m1") + col("__m2")) / 2).as(out): _*)
    }
    val med = gridMedian(base, "__v", "median")
    val withMed = base.join(med, groups)
    val mad = gridMedian(
      withMed.withColumn("__d", abs(col("__v") - col("median"))),
      "__d", "mad")
    val z = withMed.join(mad, groups)
      .withColumn("__z",
        when(col("mad") > 0,
          round(lit(0.6745) * (col("__v") - col("median")) / col("mad")
            + lit(1e-12), 9)))
    z.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n"),
        first(col("median")).as("median"),
        first(col("mad")).as("mad"),
        coalesce(sum(when(abs(col("__z")) > threshold, 1L)), lit(0L))
          .as("n_outliers"),
        max(abs(col("__z"))).as("max_abs_z"))
      .select((if (by.isEmpty) Seq.empty[Column] else by.map(col)) ++
        Seq(col("n"), col("median"), col("mad"), col("n_outliers"),
          col("max_abs_z")): _*)
  }

  /** Confusion matrix of a categorical prediction against ground
    * truth — the acceptance screen for any heuristic classifier in
    * the pipeline (language-ID, topic routing, rule-based PII tags):
    * per (truth, pred) cell the exact count and its share of the
    * truth row (recall when truth == pred). NULLs participate as
    * their own `<null>` category so silent prediction dropouts are
    * visible.
    *
    * Returns `(truth, pred: string, n: bigint, truth_total: bigint,
    * share: double)` — one partial-agg shuffle to the label² grid,
    * one window over that tiny grid.
    */
  def confusionMatrix(
      df: DataFrame,
      truthCol: String,
      predCol: String
  ): MayFail[DataFrame] = MayFail {
    val t = coalesce(col(truthCol).cast("string"), lit("<null>"))
    val p = coalesce(col(predCol).cast("string"), lit("<null>"))
    val cells = df.select(t.as("truth"), p.as("pred"))
      .groupBy("truth", "pred").agg(count(lit(1)).as("n"))
    cells
      .withColumn("truth_total",
        sum(col("n")).over(Window.partitionBy("truth")))
      .withColumn("share",
        col("n").cast("double") / col("truth_total"))
  }

  /** Calibration (reliability) curve for a probabilistic score in
    * [0, 1] against a boolean outcome — "when the model says 0.8,
    * does it happen 80% of the time": `nBins` equal-width score bins,
    * per bin the observed rate vs the mean score. Rows with NULL or
    * out-of-range scores are dropped; empty bins emit with n = 0 so
    * the curve has a fixed frame.
    *
    * Returns `(bin: int, bin_lo, bin_hi: double, n, n_pos: bigint,
    * mean_score, rate: double)` — counts and `rate` exact;
    * `mean_score` is a float partial agg (round under the tie-shift
    * when gating).
    *
    * Plan: one branch-free projection + one partial-agg shuffle of at
    * most nBins keys, one tiny grid join for empty bins.
    */
  def calibrationCurve(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBins: Int = 10
  ): MayFail[DataFrame] = MayFail {
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val binned = df.filter(s.isNotNull && y.isNotNull &&
        s >= 0.0 && s <= 1.0)
      .select(least(lit(nBins - 1), floor(s * nBins)).cast("int")
        .as("bin"), s.as("__s"), y.as("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("__y"), 1L)), lit(0L)).as("n_pos"),
        avg(col("__s")).as("mean_score"))
    val sp = df.sparkSession
    val frame = sp.range(0, nBins).select(col("id").cast("int").as("bin"))
    frame.join(binned, Seq("bin"), "left")
      .select(col("bin"),
        (col("bin").cast("double") / nBins).as("bin_lo"),
        ((col("bin") + 1).cast("double") / nBins).as("bin_hi"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        col("mean_score"),
        when(col("n") > 0, col("n_pos").cast("double") / col("n"))
          .as("rate"))
  }

  /** First-significant-digit distribution vs Benford's law — the
    * classic fabricated-data / broken-pipeline screen: naturally
    * occurring multi-order-of-magnitude amounts follow
    * P(d) = log10(1 + 1/d); synthetic, truncated, or capped values
    * don't. A large deviation means the column was generated, clipped,
    * or unit-mangled somewhere upstream.
    *
    * `valueCol` must be INTEGRAL-valued (pass cents, not dollars —
    * float-to-string is not portable across engines, integer-to-string
    * is; the first digit is unchanged by a power-of-ten rescale).
    * Null and non-positive rows are excluded.
    *
    * Returns 9 rows `(digit: int, n: bigint, p_obs, p_exp, abs_dev)`
    * — every digit present even at count 0. One partial-agg pass to 9
    * rows; everything after runs on the 9-row frame. Counts exact;
    * the shares and log10 expectations are float-tier (round under the
    * tie-shift when gating).
    */
  def benfordReport(df: DataFrame, valueCol: String): MayFail[DataFrame] =
    MayFail {
      val v = col(valueCol).cast("long")
      val counts = df.filter(v.isNotNull && v > 0)
        .select(substring(v.cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val grid = df.sparkSession.range(1, 10)
        .select(col("id").cast("int").as("digit"))
      val totals = counts.agg(coalesce(sum("n"), lit(0L)).as("__tot"))
      val pExp = log10(lit(1.0) + lit(1.0) / col("digit"))
      grid.join(counts, Seq("digit"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(totals))
        .select(col("digit"), col("n"),
          (col("n") / col("__tot")).as("p_obs"), pExp.as("p_exp"),
          abs(col("n") / col("__tot") - pExp).as("abs_dev"))
    }

  /** One-row Benford summary over [[benfordReport]]'s grid:
    * `(n_rows: bigint, chi2, mad)` — Pearson χ² against the Benford
    * expectation (8 dof) and the mean absolute deviation of the nine
    * digit shares (Nigrini's MAD; > 0.015 is his "nonconformity" line
    * for first digits). */
  def benfordStat(df: DataFrame, valueCol: String): MayFail[DataFrame] =
    benfordReport(df, valueCol).map { rep =>
      rep.agg(
        coalesce(sum("n"), lit(0L)).as("n_rows"),
        (coalesce(sum("n"), lit(0L)) *
          sum(pow(col("p_obs") - col("p_exp"), 2) / col("p_exp"))).as("chi2"),
        avg(col("abs_dev")).as("mad"))
    }

  /** Functional-dependency screen: for each candidate `lhs -> rhs`
    * dependency, does every lhs group map to exactly one rhs value?
    * The profiling primitive behind key discovery, denormalization
    * checks, and "is this column derivable" questions.
    *
    * Returns one row per dependency: `(lhs, rhs, n_groups,
    * violating_groups, violating_rows, holds)` where `violating_rows`
    * counts ALL rows in groups with more than one distinct rhs (nulls
    * count as a value: lhs rows with null rhs conflict with non-null).
    *
    * Plan: one exact `groupBy(lhs)` + distinct-count pass per
    * dependency (each is a partial-agg shuffle on its own key), then a
    * one-row reduction each; results unioned. Counts exact.
    */
  def functionalDependencyScreen(
      df: DataFrame,
      deps: Seq[(Seq[String], String)]
  ): MayFail[DataFrame] = MayFail {
    require(deps.nonEmpty, "deps must name at least one lhs -> rhs pair")
    deps.map { case (lhs, rhs) =>
      require(lhs.nonEmpty, "dependency lhs must name at least one column")
      val rhsKey = coalesce(col(rhs).cast("string"), lit("<null>"))
      val groups = df.groupBy(lhs.map(col): _*)
        .agg(count(lit(1)).as("__n"),
          countDistinct(rhsKey).as("__nd"))
      groups.agg(
          count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("__nd") > 1, 1L).otherwise(0L)), lit(0L))
            .as("violating_groups"),
          coalesce(sum(when(col("__nd") > 1, col("__n")).otherwise(0L)),
            lit(0L)).as("violating_rows"))
        .select(lit(lhs.mkString(",")).as("lhs"), lit(rhs).as("rhs"),
          col("n_groups"), col("violating_groups"), col("violating_rows"),
          (col("violating_groups") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Per-group winsorization — clamp a numeric column to its group's
    * exact `[pLo, pHi]` percentile values, the standard robust-prep
    * transform before means/regressions on heavy-tailed signals
    * (latencies, prices, token counts). Percentile convention is
    * EXACTLY [[percentiles]]' (`rank = max(⌈p·n⌉, 1)`, first
    * value-grid row whose running count reaches the rank), computed
    * per group on the value GRID (the q291 gridMedian discipline —
    * grid-sized windows, never a corpus sort; with no `byCols` the
    * grid window is global and single-task, fine for bounded value
    * domains, use the sketch path for unbounded ones). NULL values
    * pass through unchanged; clamped outputs are existing data
    * values, so no rounding is needed anywhere. */
  def winsorize(
      df: DataFrame,
      valueCol: String,
      pLo: Double = 0.01,
      pHi: Double = 0.99,
      byCols: Seq[String] = Nil,
      outCol: Option[String] = None
  ): MayFail[DataFrame] = MayFail {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1: ($pLo, $pHi)")
    val out = outCol.getOrElse(s"${valueCol}_w")
    val v = col(valueCol).cast("double")
    val keys = if (byCols.nonEmpty) byCols else Seq.empty
    val keyCols = keys.map(col)
    val grid = df.filter(v.isNotNull)
      .groupBy(keyCols :+ v.as("__v"): _*).agg(count(lit(1)).as("__t"))
    val wCum = Window.partitionBy(keyCols: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCols: _*)
    val cum = grid
      .withColumn("__cum", sum(col("__t")).over(wCum))
      .withColumn("__n", sum(col("__t")).over(wAll))
    def rank(p: Double) =
      greatest(ceil(lit(p) * col("__n")).cast("long"), lit(1L))
    val bounds = cum.groupBy(keyCols: _*).agg(
      min(when(col("__cum") >= rank(pLo), col("__v"))).as("__lo"),
      min(when(col("__cum") >= rank(pHi), col("__v"))).as("__hi"))
    val joined =
      if (keys.nonEmpty) df.join(bounds, keys, "left")
      else df.crossJoin(broadcast(bounds))
    joined
      .withColumn(out,
        when(v.isNull, lit(null).cast("double"))
          .otherwise(least(greatest(v, col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Differentially-private-SHAPED noisy group counts: per-group
    * Laplace(1/ε) noise derived from the salted portable hash of the
    * group key via the inverse CDF — `u ∈ (0,1)` from the 53-bit
    * dyadic (q272 idiom, +0.5 centering so u is never 0 or 1), then
    * `noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|)`. Deterministic and
    * engine-replayable BY DESIGN for auditability; true ε-DP
    * additionally requires the salt to be secret and single-use
    * (documented contract — with a public salt this is calibrated
    * pseudo-noise, not a privacy guarantee).
    *
    * Only the noisy counts are returned (releasing the exact count
    * alongside would defeat the construction). One partial-agg
    * shuffle; noise is a pure column expression. */
  def dpCounts(
      df: DataFrame,
      keys: Seq[String],
      epsilon: Double,
      salt: String = "0"
  ): MayFail[DataFrame] = MayFail {
    require(keys.nonEmpty, "dpCounts needs at least one grouping column")
    require(epsilon > 0, s"epsilon must be > 0: $epsilon")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
    val h = graft.functions.TextFunctions.portableHash60(
      concat(lit(salt) +: keys.flatMap(k =>
        Seq(lit("§"), coalesce(col(k).cast("string"), lit("<null>")))): _*))
    val u = (shiftright(h, 7).cast("double") + lit(0.5)) /
      lit(9007199254740992.0)
    val cen = u - lit(0.5)
    val noise = lit(-1.0) / lit(epsilon) * signum(cen) *
      log(lit(1.0) - lit(2.0) * abs(cen))
    counts
      .withColumn("noisy_n",
        round(col("__n").cast("double") + noise + lit(1e-9), 6))
      .select(keys.map(col) :+ col("noisy_n"): _*)
  }

  /** Zipf / vocabulary-health report — the corpus-level lexical
    * screen run before trusting a crawl source: natural text obeys
    * Zipf's law (ln freq ≈ a + slope·ln rank with slope near −1 and
    * a tight fit), while template spam, log dumps and boilerplate
    * farms bend the curve (flat head = repeated templates, steep
    * cliff + low hapax mass = tiny synthetic vocabulary).
    *
    * One row: `(n_tokens, n_vocab: bigint, hapax_frac, top1_share:
    * double, n_fit: int, zipf_slope, zipf_r2: double — doubles
    * ROUNDED at 6)`. The slope/R² are the closed-form OLS of
    * ln(freq) on ln(rank) over the top `fitTerms` terms (rank by
    * freq DESC, term ASC — fully deterministic; the fit frame is
    * `fitTerms`-bounded, picked via orderBy+limit =
    * TakeOrderedAndProject, never a global sort). `hapax_frac` is
    * the fraction of vocabulary seen exactly once — healthy corpora
    * sit around 0.4–0.6; near-zero means deduplicated-to-death or
    * synthetic text.
    *
    * Plan: one corpus scan to the vocabulary grid, everything after
    * is grid-sized or `fitTerms`-sized; both scalar aggs crossJoin
    * as 1-row frames. Degenerate inputs (empty corpus, single-term
    * vocabulary) yield NULL ratios/fit instead of NaN. */
  def zipfReport(
      df: DataFrame,
      textCol: String,
      fitTerms: Int = 200
  ): MayFail[DataFrame] = MayFail {
    require(fitTerms >= 2, s"fitTerms must be >= 2: $fitTerms")
    val grid = df.filter(col(textCol).isNotNull)
      .select(explode(
        graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // vocab-sized; consumed by totals AND the fit
    val totals = grid.agg(
      coalesce(sum("c"), lit(0L)).as("n_tokens"),
      count(lit(1)).as("n_vocab"),
      coalesce(sum(when(col("c") === 1L, 1L).otherwise(0L)), lit(0L))
        .as("__hapax"),
      coalesce(max("c"), lit(0L)).as("__top"))
    val fit = grid.orderBy(col("c").desc, col("w")).limit(fitTerms)
      .withColumn("__r", row_number().over(
        Window.orderBy(col("c").desc, col("w"))))
      .select(log(col("__r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    val s = fit.agg(count(lit(1)).as("__nf"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val nf = col("__nf").cast("double")
    val sNum = nf * col("sxy") - col("sx") * col("sy")
    val sDen = nf * col("sxx") - col("sx") * col("sx")
    val rDen = sDen * (nf * col("syy") - col("sy") * col("sy"))
    val out = totals.crossJoin(s).select(
      col("n_tokens"), col("n_vocab"),
      round(when(col("n_vocab") > 0,
        col("__hapax").cast("double") / col("n_vocab").cast("double"))
        + lit(1e-9), 6).as("hapax_frac"),
      round(when(col("n_tokens") > 0,
        col("__top").cast("double") / col("n_tokens").cast("double"))
        + lit(1e-9), 6).as("top1_share"),
      col("__nf").cast("int").as("n_fit"),
      round(when(sDen > 0, sNum / sDen) + lit(1e-9), 6).as("zipf_slope"),
      round(when(rDen > 0, sNum * sNum / rDen) + lit(1e-9), 6)
        .as("zipf_r2"))
    // grid's checkpoint blocks stay live: `out` is lazy and still
    // reads them — releasing here would truncate a needed lineage
    out
  }

  // --- BLEU / ROUGE n-gram overlap metrics ------------------------------

  /** Clipped n-gram matches (Papineni et al., ACL 2002 §2.1): for each
    * DISTINCT candidate gram, count it at most as often as the
    * reference contains it. Pure integer array arithmetic per row —
    * exact, order-free, engine-replayable. */
  private def clippedMatches(gc: Column, gr: Column): Column =
    aggregate(array_distinct(gc), lit(0),
      (acc, g) => acc + least(
        size(filter(gc, x => x === g)),
        size(filter(gr, x => x === g))))

  /** Sentence/document BLEU of `candCol` against `refCol` (Papineni et
    * al., ACL 2002): geometric mean of clipped n-gram precisions for
    * n = 1..`maxN` times the brevity penalty `min(1, e^(1−r/c))`.
    * Unsmoothed by the standard definition: any zero clipped count ⇒
    * BLEU 0 (reported as exactly 0.0, never via ln 0); NULL when the
    * candidate has fewer than `maxN` tokens or the reference is empty
    * (the metric is undefined, not zero). Appends `outCol`, rounded
    * at 6 — counts are exact integers, so the only float surface is
    * the final ln/exp.
    *
    * The n-gram space is the library's lowercased whitespace
    * tokenization ([[graft.functions.TextFunctions.wordShingles]]),
    * the q34 contract. Per-row cost is O(distinct-grams × doc-length)
    * per n — shuffle-free, linear in the corpus. Self-BLEU (cand
    * joined to its own corpus) is the stock diversity readout. */
  def bleu(
      df: DataFrame,
      candCol: String,
      refCol: String,
      maxN: Int = 4,
      outCol: String = "bleu"
  ): MayFail[DataFrame] = MayFail {
    require(maxN >= 1 && maxN <= 6, s"maxN must be in [1, 6]: $maxN")
    val ts = graft.functions.TextFunctions
    val withGrams = (1 to maxN).foldLeft(df) { (d, n) =>
      d.withColumn(s"__gc$n", ts.wordShingles(col(candCol), n))
        .withColumn(s"__gr$n", ts.wordShingles(col(refCol), n))
    }
    val withClip = (1 to maxN).foldLeft(withGrams) { (d, n) =>
      d.withColumn(s"__cl$n",
        clippedMatches(col(s"__gc$n"), col(s"__gr$n")))
    }
    val c = size(col("__gc1")).cast("double")
    val r = size(col("__gr1")).cast("double")
    val invalid = (1 to maxN).map(n => size(col(s"__gc$n")) === 0)
      .reduce(_ || _) || size(col("__gr1")) === 0
    val anyZero = (1 to maxN).map(n => col(s"__cl$n") === 0)
      .reduce(_ || _)
    val sumLn = (1 to maxN).map(n =>
        log(col(s"__cl$n").cast("double") /
          size(col(s"__gc$n")).cast("double")))
      .reduceLeft(_ + _)
    val bp = when(c > r, lit(1.0)).otherwise(exp(lit(1.0) - r / c))
    val score = when(invalid, lit(null).cast("double"))
      .when(anyZero, lit(0.0))
      .otherwise(bp * exp(sumLn / lit(maxN.toDouble)))
    val cleanup = (1 to maxN).flatMap(n =>
      Seq(s"__gc$n", s"__gr$n", s"__cl$n"))
    withClip.withColumn(outCol, round(score + lit(1e-9), 6))
      .drop(cleanup: _*)
  }

  /** ROUGE-N of `candCol` against `refCol` (Lin, ACL 2004): clipped
    * n-gram recall against the reference, plus the matching precision
    * and F1. Appends `rouge{n}_recall`, `rouge{n}_precision`,
    * `rouge{n}_f1`; NULL when either side has fewer than `n` tokens,
    * F1 exactly 0.0 when both precisions are zero. Same tokenization,
    * exactness and cost contract as [[bleu]]. */
  def rougeN(
      df: DataFrame,
      candCol: String,
      refCol: String,
      n: Int = 2
  ): MayFail[DataFrame] = MayFail {
    require(n >= 1 && n <= 6, s"n must be in [1, 6]: $n")
    val ts = graft.functions.TextFunctions
    val d = df
      .withColumn("__gc", ts.wordShingles(col(candCol), n))
      .withColumn("__gr", ts.wordShingles(col(refCol), n))
      .withColumn("__cl", clippedMatches(col("__gc"), col("__gr")))
    val invalid = size(col("__gc")) === 0 || size(col("__gr")) === 0
    val prec = col("__cl").cast("double") / size(col("__gc")).cast("double")
    val rec = col("__cl").cast("double") / size(col("__gr")).cast("double")
    val f1 = when(col("__cl") === 0, lit(0.0))
      .otherwise(((lit(2.0) * prec) * rec) / (prec + rec))
    d.withColumn(s"rouge${n}_precision",
        round(when(!invalid, prec) + lit(1e-9), 6))
      .withColumn(s"rouge${n}_recall",
        round(when(!invalid, rec) + lit(1e-9), 6))
      .withColumn(s"rouge${n}_f1",
        round(when(!invalid, f1) + lit(1e-9), 6))
      .drop("__gc", "__gr", "__cl")
  }

  // --- privacy / re-identification risk reports -------------------------

  /** k-anonymity report over quasi-identifier columns (Sweeney 2002):
    * one row per equivalence class `(quasiCols..., n, violates)` plus
    * the corpus-level `violation_row_share` (share of ROWS living in
    * classes smaller than k — the suppression budget a release would
    * need) repeated on every row. NULL quasi values form their own
    * classes (they are identifying in combination too). One hash
    * aggregation + a grid-sized window. */
  def kAnonymityReport(
      df: DataFrame,
      quasiCols: Seq[String],
      k: Long
  ): MayFail[DataFrame] = MayFail {
    require(quasiCols.nonEmpty, "kAnonymityReport needs quasi columns")
    require(k >= 2, s"k must be >= 2: $k")
    val g = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("violates", col("n") < k)
      .withColumn("violation_row_share",
        round(sum(when(col("n") < k, col("n")).otherwise(lit(0L)))
          .over(wAll).cast("double") /
          sum(col("n")).over(wAll).cast("double") + lit(1e-9), 6))
  }

  /** l-diversity report (Machanavajjhala et al. 2007): per quasi-
    * identifier class, the distinct count AND entropy of the sensitive
    * attribute — a class can be k-anonymous yet expose everyone when
    * the sensitive value is constant. Returns `(quasiCols..., n,
    * n_sensitive, entropy, violates)` with `violates = n_sensitive <
    * l`; `entropy` is the class's sensitive-value Shannon entropy in
    * nats (counts exact; the per-class entropy sum is χ²-tier float,
    * rounded at 6). Rows with a NULL sensitive value drop — they
    * disclose nothing. Two hash aggregations, class-grid frames. */
  def lDiversityReport(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      l: Long
  ): MayFail[DataFrame] = MayFail {
    require(quasiCols.nonEmpty, "lDiversityReport needs quasi columns")
    require(l >= 2, s"l must be >= 2: $l")
    val cells = df.filter(col(sensitiveCol).isNotNull)
      .groupBy(quasiCols.map(col) :+ col(sensitiveCol).as("__s"): _*)
      .agg(count(lit(1)).as("__m"))
    val wCls = Window.partitionBy(quasiCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = col("__m").cast("double") / sum(col("__m")).over(wCls)
      .cast("double")
    cells
      .withColumn("__term", lit(-1.0) * (p * log(p)))
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__m")).as("n"),
        count(lit(1)).as("n_sensitive"),
        round(sum(col("__term")) + lit(1e-9), 6).as("entropy"))
      .withColumn("violates", col("n_sensitive") < l)
  }
}
