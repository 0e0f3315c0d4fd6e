package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.TextFunctions

class QualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some("a"), Some(10.0)),
    (2L, Some("b"), Some(-5.0)),
    (3L, None, Some(10.0)),
    (4L, Some("a"), None)
  ).toDF("id", "tag", "v")

  test("anonymityReport: class sizes, at-risk rows, diversity floors") {
    // classes: (A,x) size 3 div 2; (A,y) size 1 div 1; (B,x) size 2 div 2
    val rows = Seq(
      ("A", "x", 1), ("A", "x", 1), ("A", "x", 2),
      ("A", "y", 9),
      ("B", "x", 1), ("B", "x", 3)
    ).toDF("q1", "q2", "s")
    val r = Quality.anonymityReport(rows, Seq("q1", "q2"), "s", k = 3L, l = 2L)
      .get.as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    // n_rows, n_classes, min_size, small(<3), rows_at_risk, min_div, low_div(<2)
    assert(r == ((6L, 3L, 1L, 2L, 3L, 1L, 1L)))
  }

  test("skewReport: exact shares, cumulative share, null-key handling") {
    // a x5, b x3, null x2 -> shares .5 / .3 / .2, cumulative .5 / .8 / 1.0
    val keys = (Seq.fill(5)(Some("a")) ++ Seq.fill(3)(Some("b")) ++
      Seq.fill(2)(Option.empty[String])).toDF("k")
    val got = Quality.skewReport(keys, Seq("k"), topK = 2).get
      .as[(Int, String, Long, Long, Long, Double, Double)].collect()
    assert(got.length == 2)
    assert(got(0) == ((1, "a", 5L, 10L, 3L, 0.5, 0.5)))
    assert(got(1) == ((2, "b", 3L, 10L, 3L, 0.3, 0.8)))
    val all = Quality.skewReport(keys, Seq("k"), topK = 10).get
      .as[(Int, String, Long, Long, Long, Double, Double)].collect()
    assert(all.length == 3 && all(2)._2 == "<null>" && all(2)._7 == 1.0)
  }

  test("profile reports n / nulls / distinct / min / max per column") {
    val p = Quality.profile(df, Seq("id", "tag", "v")).get
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(p("id") == (("id", 4L, 0L, 4L, "1", "4")))
    assert(p("tag") == (("tag", 4L, 1L, 2L, "a", "b")))
    assert(p("v") == (("v", 4L, 1L, 2L, "-5.0", "10.0")))
  }

  test("profile rejects unknown columns") {
    assert(Quality.profile(df, Seq("nope")).isFailing)
  }

  test("expect counts violations per rule, null predicate = violation") {
    val out = Quality.expect(df, Seq(
      Quality.Expectation("v_nonneg", col("v") >= 0),
      Quality.Expectation("tag_present", col("tag").isNotNull),
      Quality.Expectation("id_positive", col("id") > 0))).get
      .as[(String, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // v >= 0: row 2 fails (-5), row 4 null -> violation too
    assert(out("v_nonneg") == ((2L, false)))
    assert(out("tag_present") == ((1L, false)))
    assert(out("id_positive") == ((0L, true)))
  }

  test("violations extracts failing rows tagged with their failed rules") {
    val out = Quality.violations(df, Seq(
      Quality.Expectation("v_nonneg", col("v") >= 0),
      Quality.Expectation("tag_present", col("tag").isNotNull))).get
      .select(col("id"), col("failed_rules"))
      .as[(Long, Seq[String])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert(out == Map(
      2L -> Set("v_nonneg"),
      3L -> Set("tag_present"),
      4L -> Set("v_nonneg")))
  }

  test("redactPII scrubs emails and phone numbers, leaves clean text alone") {
    val docs = Seq(
      "contact me at jane.doe+spam@example.co.uk today",
      "call +1 (555) 123-4567 now",
      "clean text with the number 42 in it").toDF("t")
    val got = docs.select(TextFunctions.redactPII(col("t")).as("r"))
      .as[String].collect().toSeq
    assert(got == Seq(
      "contact me at [PII] today",
      "call [PII] now",
      "clean text with the number 42 in it"))
  }

  test("dupWordFraction and dupNgramFraction measure in-document repetition") {
    val docs = Seq(
      ("all words unique here", 0.0),
      ("spam spam spam spam", 0.75),       // 4 words, 1 distinct
      ("", 0.0)).toDF("t", "want")
    val ok = docs.select(
      (TextFunctions.dupWordFraction(col("t")) === col("want")).as("ok"))
      .as[Boolean].collect()
    assert(ok.forall(identity))
    // "a b c a b c a b c": 7 tri-grams, 3 distinct -> 1 - 3/7
    val f = Seq("a b c a b c a b c").toDF("t")
      .select(TextFunctions.dupNgramFraction(col("t"), 3).as("f"))
      .as[Double].head()
    assert(math.abs(f - (1.0 - 3.0 / 7.0)) < 1e-6)
    // natural prose scores near zero
    val low = Seq("the quick brown fox jumps over the lazy dog").toDF("t")
      .select(TextFunctions.dupNgramFraction(col("t"), 3).as("f"))
      .as[Double].head()
    assert(low == 0.0)
  }

  test("contaminationFlags finds corpus docs sharing n-grams with a benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally unrelated content about spark planning"),
      (3L, "prefix words then alpha beta gamma delta epsilon zeta suffix " +
        "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val benchmark = Seq(
      "alpha beta gamma delta epsilon zeta",
      "beta gamma delta epsilon beta gamma delta epsilon").toDF("text")
    val got = Dedup.contaminationFlags(corpus, benchmark, "text", "doc_id", n = 4).get
      .as[(Long, Long)].collect().toMap
    // the first benchmark doc has 3 distinct 4-grams and the second
    // repeats one of them, within itself and across the two; doc 1
    // contains all 3, and doc 3 too, with one of them twice. A gram
    // counts once per corpus doc, however often either side repeats it
    assert(got == Map(1L -> 3L, 3L -> 3L))
  }

  test("piiCount counts both kinds without double-counting email digits") {
    val docs = Seq(
      ("two emails a@b.com and c123456789@d.org", 2),
      ("email a@b.io and phone 555-123-4567", 2),
      ("nothing here", 0)).toDF("t", "want")
    val ok = docs.select((TextFunctions.piiCount(col("t")) === col("want")).as("ok"))
      .as[Boolean].collect()
    assert(ok.forall(identity))
  }

  test("gopherFlags: each rule fires on its designed offender") {
    val good = "the report and data have merit with good words to be seen here"
    val docs = Seq(
      (0L, good),                                    // passes everything
      (1L, "the and to"),                            // too few words
      (2L, "the be to of and xx yy zz aa bb cc dd"), // mean word len < 3
      (3L, good + " ### ## #"),                      // symbol ratio > 0.1
      (4L, "• the one\n• be two\n• of three"),       // all lines bulleted
      (5L, "the one...\nbe two...\nof three..."),    // all lines ellipsis-ended
      (6L, "the be 123 456 789 012 345 678 901 234"),// <80% alphabetic words
      (7L, "zebra quartz vortex nebula plasma denim") // <2 stop words
    ).toDF("doc_id", "text")
    val got = Quality.gopherFlags(docs, "text", "doc_id", minWords = 5L).get
      .orderBy("doc_id").collect()
    def flag(r: org.apache.spark.sql.Row, name: String): Boolean =
      r.getBoolean(r.fieldIndex(name))
    assert(flag(got(0), "pass"))
    assert(!flag(got(1), "word_count_ok") && !flag(got(1), "pass"))
    assert(!flag(got(2), "mean_word_len_ok"))
    assert(!flag(got(3), "symbol_ratio_ok"))
    assert(!flag(got(4), "bullet_ok"))
    assert(!flag(got(5), "ellipsis_ok"))
    assert(!flag(got(6), "alpha_ok"))
    assert(!flag(got(7), "stopword_ok"))
  }

  test("gopherFlags: both rules share one ellipsis definition ('…' counts in the symbol ratio)") {
    // 10 words + 2 unicode ellipses: ratio 0.2 > 0.1 must fail the
    // symbol-ratio rule exactly like the ASCII '...' form would
    val uni = "the report and data have … merit with good … words"
    val ascii = "the report and data have ... merit with good ... words"
    val got = Quality.gopherFlags(
      Seq((0L, uni), (1L, ascii)).toDF("doc_id", "text"),
      "text", "doc_id", minWords = 5L).get.orderBy("doc_id").collect()
    def flag(r: org.apache.spark.sql.Row, name: String): Boolean =
      r.getBoolean(r.fieldIndex(name))
    assert(!flag(got(0), "symbol_ratio_ok"), "unicode ellipsis must count")
    assert(!flag(got(1), "symbol_ratio_ok"))
  }

  test("gopherFlags: a word-less document fails word-denominated rules without dividing by zero") {
    val got = Quality.gopherFlags(Seq((0L, "")).toDF("doc_id", "text"),
      "text", "doc_id").get.collect().head
    def flag(name: String): Boolean = got.getBoolean(got.fieldIndex(name))
    assert(got.getLong(got.fieldIndex("n_words")) == 0L)
    assert(!flag("word_count_ok") && !flag("mean_word_len_ok") &&
      !flag("symbol_ratio_ok") && !flag("alpha_ok") && !flag("pass"))
    assert(flag("bullet_ok") && flag("ellipsis_ok")) // no lines misbehave
  }

  /** The column formulation `gopherFlags` used before its native kernel:
    * the oracle the kernel must match on every column. */
  private def gopherFlagsOracle(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minWords: Long, maxWords: Long): org.apache.spark.sql.DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val ts = TextFunctions.tokens(txt)
    val nWords = size(ts).cast("long")
    val sumLen = aggregate(ts, lit(0L), (a, t) => a + length(t).cast("long"))
    val meanLen = sumLen.cast("double") / nWords.cast("double")
    val nHash = (length(txt) -
      length(regexp_replace(txt, "#", ""))).cast("long")
    val nEll = ((length(txt) -
      length(regexp_replace(txt, "\\.\\.\\.", ""))) / 3 +
      (length(txt) - length(regexp_replace(txt, "…", "")))).cast("long")
    val lines = split(txt, "\n")
    val nLines = size(lines).cast("double")
    val nBullet = size(filter(lines, l =>
      ltrim(l).startsWith("•") || ltrim(l).startsWith("- ") ||
        ltrim(l).startsWith("* "))).cast("double")
    val nEllEnd = size(filter(lines, l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("double")
    val nAlpha = size(filter(ts, t => t.rlike("[a-z]"))).cast("long")
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = size(array_intersect(array_distinct(ts),
      array(stop.map(lit): _*))).cast("long")
    val flags = Seq(
      (nWords >= minWords && nWords <= maxWords).as("word_count_ok"),
      (nWords > 0 && meanLen.between(3.0, 10.0)).as("mean_word_len_ok"),
      (nWords > 0 &&
        nHash.cast("double") / nWords.cast("double") <= 0.1 &&
        nEll.cast("double") / nWords.cast("double") <= 0.1)
        .as("symbol_ratio_ok"),
      (nBullet / nLines <= 0.9).as("bullet_ok"),
      (nEllEnd / nLines <= 0.3).as("ellipsis_ok"),
      (nWords > 0 && nAlpha.cast("double") / nWords.cast("double") >= 0.8)
        .as("alpha_ok"),
      (nStop >= 2L).as("stopword_ok"))
    df.select(col(idCol) +: nWords.as("n_words") +: flags: _*)
      .withColumn("pass",
        col("word_count_ok") && col("mean_word_len_ok") &&
          col("symbol_ratio_ok") && col("bullet_ok") && col("ellipsis_ok") &&
          col("alpha_ok") && col("stopword_ok"))
  }

  test("gopherFlags: the native kernel equals the column formulation on every column") {
    val edge = Seq[String](null, "", "   ", "\n\n", "....", "......", "…",
      "- ", "* ", "•", "   - ", "  * ", "    •", "\t", "\r", "\f",
      "THE report AND data HAVE merit WITH words TO BE seen",
      "İstanbul İ ß straße STRASSE ΣΊΣΥΦΟΣ",
      "a...b....c.....d......\n...\n…\n  ...  \n…  \nx.. .\n- x\n* y\n•z\n-x\n*y",
      "# ## ###\n#\n\t#tag\r\nthe\fof\tand\rwith", " \n \n ", "a\n")
    // fragments chosen to hit every rule: separators, symbols, bullets,
    // stop words in both cases, and non-ASCII letters whose lower-casing
    // changes their length (İ) or needs context (Σ)
    val frags = Array("the", "The", "THE", "be", "to", "Of", "and", "that",
      "have", "with", "WITH", "data", "report", "x", "ab", "123", "9a", "#",
      "##", ".", "..", "...", "…", "•", "-", "*", "- ", "* ", "• ",
      " ", "  ", "\t", "\n", "\r", "\f", "\u000b", "İ", "ß", "Σ", "ΣΑΣ",
      "é", "straße", "日本", "😀", "K")
    val rnd = new scala.util.Random(7)
    val generated = (0 until 400).map { _ =>
      Seq.fill(rnd.nextInt(40))(frags(rnd.nextInt(frags.length))).mkString
    }
    val texts = (edge ++ generated).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // a local relation is folded on the driver (interpreted eval); an
    // RDD-backed frame runs the generated code. The oracle runs on the
    // local relation only: executed, it divides by zero on a word-less
    // document (see the next test)
    val local = texts.toDF("doc_id", "text")
    val distributed = spark.sparkContext.parallelize(texts, 3).toDF("doc_id", "text")
    for ((minWords, maxWords) <- Seq((50L, 100000L), (3L, 20L))) {
      val want = gopherFlagsOracle(local, "text", "doc_id", minWords, maxWords)
      val w = want.orderBy("doc_id").collect().toSeq
      assert(w.length == texts.length)
      for (docs <- Seq(local, distributed)) {
        val got = Quality.gopherFlags(docs, "text", "doc_id", minWords, maxWords).get
        assert(got.schema == want.schema)
        val g = got.orderBy("doc_id").collect().toSeq
        assert(g.length == w.length)
        g.zip(w).foreach { case (a, b) =>
          assert(a == b, s"doc ${a.getLong(0)}: native $a, columns $b")
        }
      }
    }
  }

  test("gopherFlags: a word-less document in an executed plan does not divide by zero") {
    // the AND-guarded mean word length divided by zero words once
    // common-subexpression elimination hoisted the repeated division
    val docs = spark.sparkContext.parallelize(Seq((0L, ""), (1L, null), (2L, " \n"),
      (3L, "the data and report have words to be seen")), 2).toDF("doc_id", "text")
    val got = Quality.gopherFlags(docs, "text", "doc_id", minWords = 5L).get
      .orderBy("doc_id").select("n_words", "mean_word_len_ok", "pass")
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(got == Seq((0L, false, false), (0L, false, false), (0L, false, false),
      (9L, true, true)))
  }

  test("gopherRepetitionFlags: each repetition rule fires on its designed offender") {
    val cleanLine = "the quick brown fox jumps over the lazy dog near a very calm river today"
    val docs = Seq(
      (0L, cleanLine + "\n" + "another fine sentence with plenty of fresh distinct words here"),
      (1L, "dup line\ndup line\ndup line\nok"),                 // line dup
      (2L, "para one block\n\npara one block"),                 // paragraph dup
      (3L, cleanLine + (" spam alpha beta gamma delta" * 5)),   // 5-gram repetition
      (4L, "go go go go go go go go go go and then something")  // top 2-gram repetition
    ).toDF("doc_id", "text")
    val got = Quality.gopherRepetitionFlags(docs, "text", "doc_id").get
      .orderBy("doc_id").collect()
    def f(r: org.apache.spark.sql.Row, c: String): Double =
      r.getDouble(r.fieldIndex(c))
    def pass(r: org.apache.spark.sql.Row): Boolean = r.getBoolean(r.fieldIndex("pass"))
    assert(pass(got(0)), s"clean doc must pass: ${got(0)}")
    assert(f(got(1), "dup_line_frac") > 0.30 && !pass(got(1)))
    assert(f(got(2), "dup_para_frac") > 0.30 && !pass(got(2)))
    assert(f(got(3), "dup_5gram_frac") > 0.15 && !pass(got(3)))
    assert(f(got(4), "top_2gram_frac") > 0.20 && !pass(got(4)))
    // a unique long gram is NOT repetition: doc 0's top fractions are 0
    assert(f(got(0), "top_4gram_frac") == 0.0)
  }

  test("termDrift surfaces the shifted terms first and handles one-sided vocab") {
    // corpora share filler; 'newword' exists only in B, 'oldword' only in A
    val a = Seq.fill(20)((1L, "filler common tokens here oldword")).toDF("id", "text")
    val b = Seq.fill(20)((2L, "filler common tokens here newword")).toDF("id", "text")
    val rows = Quality.termDrift(a, b, "text", topK = 3).get
      .select("term", "n_a", "n_b", "js_contrib")
      .as[(String, Long, Long, Double)].collect().toSeq
    // the two one-sided words dominate the drift; shared words contribute ~0
    assert(rows.map(_._1).take(2).toSet == Set("oldword", "newword"))
    assert(rows.head._4 > 0)
    val old = rows.find(_._1 == "oldword").get
    assert(old._2 == 20L && old._3 == 0L)
  }

  test("termDrift: identical corpora have (near) zero contributions") {
    val a = Seq((1L, "same words in both")).toDF("id", "text")
    val rows = Quality.termDrift(a, a, "text", topK = 10).get
      .select("js_contrib").as[Double].collect()
    assert(rows.forall(math.abs(_) < 1e-12))
  }

  test("filterByDomainBlocklist blocks exact hosts and every subdomain of a listed domain") {
    val docs = Seq(
      (1L, "http://a.b.spam.com/x"),   // subdomain of listed spam.com -> blocked
      (2L, "http://spam.com/y"),       // exact registrable match -> blocked
      (3L, "http://notspam.com/z"),    // SUBSTRING is not a suffix match -> kept
      (4L, "http://exact.host.org/w"), // full-host entry -> blocked
      (5L, "http://deep.exact.host.org/v"), // subdomain of the full-host entry -> blocked
      (6L, "http://clean.net/u"),      // unlisted -> kept
      (7L, "http://SPAM.com/s")        // host case-insensitive -> blocked
    ).toDF("id", "url")
    val bl = Seq("spam.com", "exact.host.org").toDF("domain")
    val kept = Quality.filterByDomainBlocklist(docs, "url", "id", bl).get
    assert(kept.select("id").as[Long].collect().toSet == Set(3L, 6L))
    assert(kept.columns.toSeq == docs.columns.toSeq) // no helper cols leak
    // blocklist casing is normalized too
    val blUpper = Seq("Spam.COM").toDF("domain")
    assert(Quality.filterByDomainBlocklist(docs, "url", "id", blUpper).get
      .select("id").as[Long].collect().toSet == Set(3L, 4L, 5L, 6L))
  }

  test("frequentNgrams counts occurrences and distinct docs, prunes, orders") {
    val docs = Seq(
      (1L, "the quick fox the quick fox"), // "the quick fox" twice in one doc
      (2L, "the quick fox jumps"),
      (3L, "THE QUICK fox"),               // lowercased -> same trigram
      (4L, "too short"),                   // < n tokens: contributes nothing
      (5L, "all unique tokens here")
    ).toDF("id", "text")
    val got = Quality.frequentNgrams(docs, "text", "id", n = 3, topK = 10,
      minCount = 2L).get.as[(String, Long, Long)].collect().toSeq
    // "the quick fox": 4 occurrences across 3 docs; "quick fox the"/"fox the quick"
    // appear once each (pruned by minCount); everything else is unique
    assert(got.head == (("the quick fox", 4L, 3L)))
    assert(got.forall(_._2 >= 2L))
    assert(got == got.sortBy(g => (-g._2, g._1))) // total order
    // lowercase=false keeps case-distinct n-grams apart
    val cased = Quality.frequentNgrams(docs, "text", "id", n = 3, topK = 10,
      minCount = 2L, lowercase = false).get.as[(String, Long, Long)].collect().toSeq
    assert(cased.head == (("the quick fox", 3L, 2L)))
  }

  test("histogram: clamped edges, empty bins present, nulls dropped") {
    val d = Seq[java.lang.Double](-5.0, 0.0, 9.9, 10.0, 25.0, 99.9, 100.0, 250.0, null)
      .toDF("v")
    val h = Quality.histogram(d, "v", nBins = 10, lo = 0.0, hi = 100.0).get
      .orderBy("bin").as[(Int, Double, Double, Long)].collect().toSeq
    assert(h.size == 10)
    assert(h.map(_._1) == (0 until 10))
    val byBin = h.map(r => r._1 -> r._4).toMap
    assert(byBin(0) == 3L) // -5 clamps in, 0.0 and 9.9 land here
    assert(byBin(1) == 1L) // 10.0 boundary is inclusive-low
    assert(byBin(2) == 1L) // 25.0
    assert(byBin(9) == 3L) // 99.9 plus clamped 100.0 and 250.0
    assert(byBin.values.sum == 8L) // null dropped
    assert(h(1)._2 == 10.0 && h(1)._3 == 20.0) // bin edges
    assert(Quality.histogram(d, "v", 0, 0, 1).isInstanceOf[graft.functional.Fail])
  }

  test("profileBy: per-group per-column stats in one pass") {
    val d = Seq(
      ("en", Some(10L), Some("a")), ("en", Some(20L), None),
      ("de", Some(10L), Some("b")), ("de", None, Some("b"))
    ).toDF("lang", "len", "src")
    val p = Quality.profileBy(d, Seq("lang"), Seq("len", "src")).get
      .as[(String, String, Long, Long, Long, String, String)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(p(("en", "len")) == (("en", "len", 2L, 0L, 2L, "10", "20")))
    assert(p(("en", "src")) == (("en", "src", 2L, 1L, 1L, "a", "a")))
    assert(p(("de", "len")) == (("de", "len", 2L, 1L, 1L, "10", "10")))
    assert(p(("de", "src")) == (("de", "src", 2L, 0L, 1L, "b", "b")))
  }

  test("histogramPsi: identical corpora score ~0, a shifted one does not") {
    val ref = (1 to 200).map(i => (i % 100).toDouble).toDF("v")
    val same = Quality.histogramPsi(ref, ref, "v", 10, 0.0, 100.0).get
    assert(same.select("psi_total").as[Double].head() == 0.0)
    // shift mass upward: PSI must exceed the 0.25 "shifted" rule of thumb
    val cur = (1 to 200).map(i => 50.0 + (i % 50)).toDF("v")
    val drift = Quality.histogramPsi(ref, cur, "v", 10, 0.0, 100.0).get
    assert(drift.select("psi_total").as[Double].head() > 0.25)
    // empty current bins are ε-floored, never NaN/Inf
    val contribs = drift.select("psi_contrib").as[Double].collect()
    assert(contribs.forall(c => !c.isNaN && !c.isInfinite))
    assert(drift.count() == 10)
  }

  test("percentiles: exact lower order statistics, ties, edges, empty") {
    // values [10×1, 20×2, 30×1]: n=4 → p=0 rank 1 → 10; p=.5 rank 2
    // → 20; p=.6 rank ⌈2.4⌉=3 → 20; p=1 rank 4 → 30
    val data = Seq(10.0, 20.0, 20.0, 30.0).toDF("v")
    val got = Quality.percentiles(data, "v", Seq(0.0, 0.5, 0.6, 1.0)).get
      .as[(Double, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0.0) == ((1L, Some(10.0))))
    assert(got(0.5) == ((2L, Some(20.0))))
    assert(got(0.6) == ((3L, Some(20.0))))
    assert(got(1.0) == ((4L, Some(30.0))))
    // empty input: every requested p present with NULL value
    val empty = Quality.percentiles(data.filter(lit(false)), "v", Seq(0.5))
      .get.as[(Double, Long, Option[Double])].collect()
    assert(empty.toSeq == Seq((0.5, 1L, None)))
    // knob validation
    assert(Quality.percentiles(data, "v", Seq(1.5)).isFailing)
    assert(Quality.percentiles(data, "v", Seq(0.5, 0.5)).isFailing)
  }

  test("percentilesApprox: within alpha of the exact path on a " +
      "never-repeating domain; knob guards ride through") {
    // unbounded continuous values — the case the exact grid degrades on
    val rnd = new scala.util.Random(31L)
    val vals = Seq.fill(4000)(math.exp(rnd.nextGaussian() * 2 + 3))
    val data = vals.toDF("v")
    val ps = Seq(0.05, 0.5, 0.95)
    val approx = Quality.percentilesApprox(data, "v", ps, alpha = 0.01).get
      .as[(Double, Double)].collect().toMap
    val exact = Quality.percentiles(data, "v", ps).get
      .as[(Double, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    ps.foreach { p =>
      assert(math.abs(approx(p) - exact(p)) <= 0.011 * exact(p),
        s"p=$p approx=${approx(p)} exact=${exact(p)} out of bound")
    }
    assert(Quality.percentilesApprox(data, "v", Seq(0.5), alpha = 0.0).isFailing)
  }

  test("categoricalDrift: union grid, zero fill, hand-computed chi2, null bucket") {
    // ref = [a,a,a,b], cur = [a,b,b,c]: per-category homogeneity χ²
    // contributions 1 (a) + 1/3 (b) + 1 (c) = 7/3
    val ref = Seq("a", "a", "a", "b").toDF("cat")
    val cur = Seq("a", "b", "b", "c").toDF("cat")
    val got = Quality.categoricalDrift(ref, cur, "cat").get
      .select("category", "n_ref", "n_cur", "p", "q", "chi2_total")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got.keySet == Set("a", "b", "c"))
    assert(got("a") == ((3L, 1L, 0.75, 0.25, 2.3333)))
    assert(got("b")._1 == 1L && got("b")._2 == 2L)
    assert(got("c") == ((0L, 1L, 0.0001, 0.25, 2.3333))) // ε floor on p
    // identical corpora → psi_total ≈ 0; NULL categories bucket as <null>
    val withNull = Seq(Some("a"), None).toDF("cat")
    val same = Quality.categoricalDrift(withNull, withNull, "cat").get
    val rows = same.select("category", "psi_total")
      .as[(String, Double)].collect().toMap
    assert(rows.keySet == Set("a", "<null>"))
    assert(rows.values.forall(v => math.abs(v) < 1e-6))
  }

  test("quantileDrift: equal-frequency bins from ref edges, shift detected") {
    // ref = 1..100: decile edges 10,20,…,90 → each bin holds exactly 10
    val ref = (1 to 100).map(_.toDouble).toDF("v")
    val same = Quality.quantileDrift(ref, ref, "v", nBins = 10).get
      .orderBy("bin")
      .as[(Int, Option[Double], Option[Double], Long, Long, Double,
        Double, Double, Double)].collect()
    assert(same.length == 10)
    assert(same.forall(r => r._4 == 10L && r._5 == 10L))
    assert(same.forall(r => math.abs(r._9) < 1e-6)) // psi_total ~ 0
    // open ends: bin 0 lo NULL / hi 10; bin 9 lo 90 / hi NULL
    assert(same.head._2.isEmpty && same.head._3.contains(10.0))
    assert(same.last._2.contains(90.0) && same.last._3.isEmpty)
    // everything shifted past the top edge lands in bin 9 → PSI large
    val cur = (1 to 100).map(i => 1000.0 + i).toDF("v")
    val drift = Quality.quantileDrift(ref, cur, "v", nBins = 10).get
    assert(drift.select("psi_total").as[Double].head() > 0.25)
    assert(drift.select("psi_contrib").as[Double].collect()
      .forall(c => !c.isNaN && !c.isInfinite))
    // empty ref → Fail, bad knob → Fail
    assert(Quality.quantileDrift(ref.filter(lit(false)), ref, "v").isFailing)
    assert(Quality.quantileDrift(ref, ref, "v", nBins = 1).isFailing)
  }

  test("entropyReport: hand-computed entropy, constant and key columns") {
    // cat: a,a,a,b → H = ln4 − (3ln3)/4; const: all "x" → H = 0,
    // top_share 1; key: all distinct → H = ln4, top_share 1/4
    val data = Seq(("a", "x", 1L), ("a", "x", 2L), ("a", "x", 3L),
      ("b", "x", 4L)).toDF("cat", "const", "key")
    val got = Quality.entropyReport(data, Seq("cat", "const", "key")).get
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("cat")._2 == 4L && got("cat")._3 == 2L)
    assert(math.abs(got("cat")._4.get -
      (math.log(4) - 3 * math.log(3) / 4)) < 1e-12)
    assert(got("cat")._5.contains(0.75))
    assert(got("const")._3 == 1L && got("const")._4.get == 0.0 &&
      got("const")._5.contains(1.0))
    assert(got("key")._3 == 4L &&
      math.abs(got("key")._4.get - math.log(4)) < 1e-12 &&
      got("key")._5.contains(0.25))
    // empty column → NULL entropy; unknown column → Fail
    val withNull = data.withColumn("empty",
      when($"key" < 0, $"cat"))
    val e = Quality.entropyReport(withNull, Seq("empty")).get
      .as[(String, Long, Long, Option[Double], Option[Double])].head()
    assert(e._2 == 0L && e._4.isEmpty)
    assert(Quality.entropyReport(data, Seq("nope")).isFailing)
  }

  test("referentialIntegrity: orphans, null keys, exact counts") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    // children: 4 matched, 2 orphans on one key, 1 orphan on another,
    // 2 null keys
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(3L), Some(9L),
      Some(9L), Some(8L), None, None).toDF("fk")
    val r = Quality.referentialIntegrity(child, "fk", parent, "pk").get
      .as[(Long, Long, Long, Long, Double)].head()
    assert(r._1 == 9L && r._2 == 2L && r._3 == 3L && r._4 == 2L)
    assert(math.abs(r._5 - 3.0 / 7) < 1e-6)
    // all-null child: share 0, no division blowup
    val allNull = Seq[Option[Long]](None, None).toDF("fk")
    val r2 = Quality.referentialIntegrity(allNull, "fk", parent, "pk").get
      .as[(Long, Long, Long, Long, Double)].head()
    assert(r2 == ((2L, 2L, 0L, 0L, 0.0)))
  }

  test("outlierReport: exact quartiles, Tukey fences, outlier counts") {
    val vals = ((1 to 100).map(i => (Some(i.toDouble), None: Option[Double]))
      :+ ((Some(1000.0), None: Option[Double])))
    val t = vals.toDF("x", "allnull")
    val got = Quality.outlierReport(t, Seq("x", "allnull")).get
      .as[(String, Long, Option[Double], Option[Double], Option[Double],
        Option[Double], Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val x = got("x")
    // n=101: q1 = x_26 = 26, q3 = x_76 = 76, IQR 50 -> fences -49, 151
    assert(x._2 == 101L && x._3.get == 26.0 && x._4.get == 76.0)
    assert(x._5.get == -49.0 && x._6.get == 151.0)
    assert(x._7 == 0L && x._8 == 1L) // only the planted 1000 is high
    val nul = got("allnull")
    assert(nul._2 == 0L && nul._3.isEmpty && nul._7 == 0L && nul._8 == 0L)
  }

  test("benfordReport: digit grid complete, zero/null/negative excluded") {
    val vals = Seq(Some(1L), Some(19L), Some(2L), Some(35L), Some(999L),
      Some(0L), Some(-7L), None).toDF("v")
    val got = Quality.benfordReport(vals, "v").get
      .select("digit", "n").as[(Int, Long)].collect().toMap
    assert(got == Map(1 -> 2L, 2 -> 1L, 3 -> 1L, 4 -> 0L, 5 -> 0L,
      6 -> 0L, 7 -> 0L, 8 -> 0L, 9 -> 1L))
    val row = Quality.benfordReport(vals, "v").get
      .filter($"digit" === 1)
      .select("p_obs", "p_exp").as[(Double, Double)].head()
    assert(math.abs(row._1 - 0.4) < 1e-12)
    assert(math.abs(row._2 - math.log10(2.0)) < 1e-12)
  }

  test("benfordStat equals the hand-computed chi2 and mad of the report") {
    val vals = Seq(1L, 19L, 2L, 35L, 999L).toDF("v")
    val rep = Quality.benfordReport(vals, "v").get
      .select("n", "p_obs", "p_exp").as[(Long, Double, Double)].collect()
    val n = rep.map(_._1).sum
    val chi2 = n * rep.map { case (_, o, e) => (o - e) * (o - e) / e }.sum
    val mad = rep.map { case (_, o, e) => math.abs(o - e) }.sum / 9.0
    val got = Quality.benfordStat(vals, "v").get
      .as[(Long, Double, Double)].head()
    assert(got._1 == 5L)
    assert(math.abs(got._2 - chi2) < 1e-9)
    assert(math.abs(got._3 - mad) < 1e-12)
  }

  test("functionalDependencyScreen: violated and holding deps, null rhs") {
    val t = Seq((1L, "x", Some("a")), (1L, "x", Some("a")),
      (2L, "y", Some("a")), (2L, "y", Some("b")),
      (3L, "z", None), (3L, "z", Some("c"))).toDF("k", "u", "r")
    val got = Quality.functionalDependencyScreen(t,
        Seq(Seq("k") -> "r", Seq("k") -> "u", Seq("k", "u") -> "u")).get
      .as[(String, String, Long, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // k -> r: groups 2 and 3 violate (3 via null-vs-'c'); 4 rows affected
    assert(got(("k", "r")) == ((3L, 2L, 4L, false)))
    assert(got(("k", "u")) == ((3L, 0L, 0L, true)))
    assert(got(("k,u", "u")) == ((3L, 0L, 0L, true)))
  }

  test("readability: hand-counted words/sentences/syllables and scores") {
    val docs = Seq(
      (1L, "The cat sat. It purred!"),   // 5 words, 2 sentences
      (2L, "no terminal punctuation here"), // 4 words, floored to 1
      (3L, "")                            // 0 words -> NULL scores
    ).toDF("doc_id", "text")
    val r = Quality.readability(docs, "text", Seq("doc_id")).get
      .orderBy("doc_id").collect()
    // doc 1 syllables: e|a|a|a|i|u|e (vowel-group runs of lowercased
    // text: "the cat sat. it purred!") = the(1) cat(1) sat(1) it(1)
    // purred(1: "urre" -> u, e are two runs? u-rr-e = 2) -> recount:
    // groups: e, a, a, i, u, e = 6
    assert(r(0).getLong(1) == 5L && r(0).getLong(2) == 2L &&
      r(0).getLong(3) == 6L)
    val ws = 5.0 / 2.0; val yw = 6.0 / 5.0
    assert(math.abs(r(0).getDouble(4) -
      (206.835 - 1.015 * ws - 84.6 * yw)) < 1e-12)
    assert(math.abs(r(0).getDouble(5) -
      (0.39 * ws + 11.8 * yw - 15.59)) < 1e-12)
    assert(r(1).getLong(1) == 4L && r(1).getLong(2) == 1L)
    assert(r(2).getLong(1) == 0L && r(2).getLong(2) == 0L &&
      r(2).isNullAt(4) && r(2).isNullAt(5))
  }

  test("confusionMatrix: per-truth shares, NULLs as a category") {
    val df = Seq(("en", "en"), ("en", "en"), ("en", "de"),
      ("de", "de"), (null, "en")).toDF("truth", "pred")
    val got = Quality.confusionMatrix(df, "truth", "pred").get
      .orderBy("truth", "pred")
      .as[(String, String, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(
      ("<null>", "en", 1L, 1L, 1.0),
      ("de", "de", 1L, 1L, 1.0),
      ("en", "de", 1L, 3L, 1.0 / 3),
      ("en", "en", 2L, 3L, 2.0 / 3)))
  }

  test("calibrationCurve: fixed bin frame, exact rates, clamp/range rules") {
    val rows = Seq((0.05, false), (0.08, true), (0.95, true), (0.97, true),
      (0.99, false), (1.0, true), (1.5, true), (-0.1, false))
    val got = Quality.calibrationCurve(rows.toDF("s", "y"), "s", "y",
        nBins = 10).get
      .orderBy("bin").collect()
    assert(got.length == 10)
    // bin 0: scores .05/.08 -> 1 of 2 positive
    assert(got(0).getLong(3) == 2L && got(0).getLong(4) == 1L &&
      got(0).getDouble(6) == 0.5)
    // score exactly 1.0 clamps into the last bin; out-of-range dropped
    assert(got(9).getLong(3) == 4L && got(9).getLong(4) == 3L)
    // empty bins emit n = 0 with NULL mean/rate
    assert(got(5).getLong(3) == 0L && got(5).isNullAt(5) && got(5).isNullAt(6))
    assert(Quality.calibrationCurve(rows.toDF("s", "y"), "s", "y",
      nBins = 1).isFailing)
  }

  test("madOutliers: exact median/MAD, rounded-z threshold, zero-MAD") {
    // g: [1,2,3,4,100] -> median 3, |d| = [2,1,0,1,97] -> MAD 1
    // z = 0.6745*(v-3)/1 -> only 100 exceeds 3.5 (z = 65.4265)
    val df0 = (Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("g", _)) ++
      Seq(5.0, 5.0, 5.0, 9.0).map(("h", _))).toDF("k", "v")
    val r = Quality.madOutliers(df0, "v", Seq("k")).get
      .orderBy("k").collect()
    assert(r(0).getLong(1) == 5L && r(0).getDouble(2) == 3.0 &&
      r(0).getDouble(3) == 1.0 && r(0).getLong(4) == 1L)
    assert(math.abs(r(0).getDouble(5) - 0.6745 * 97) < 1e-6)
    // h: median 5, deviations [0,0,0,4] -> MAD 0 -> NULL z, 0 outliers
    assert(r(1).getDouble(3) == 0.0 && r(1).getLong(4) == 0L &&
      r(1).isNullAt(5))
    // ungrouped form emits one row without key columns
    val ug = Quality.madOutliers(df0, "v").get.collect()
    assert(ug.length == 1 && ug(0).getLong(0) == 9L)
  }

  test("piiScan/piiRedact: class counts, contract-order precedence, " +
      "idempotent redaction, null preservation") {
    val df = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org, ip 10.0.0.1, ssn 123-45-6789, " +
        "card 4111 1111 1111 1111, call 555-123-4567"),
      // "v1.2.3.4" does NOT match ipv4 (no \b between 'v' and '1');
      // a bare dotted quad does; a 3-3-4 digit run inside a longer
      // digit string is NOT a phone (boundaries)
      (2L, "v1.2.3.4 then bare 1.2.3.4 and 9555-123-45679 clean"),
      (3L, "no identifiers at all"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val scan = Quality.piiScan(df, "text", Seq("doc_id")).get
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(scan.length == 3) // null text dropped from the scan
    assert(scan(0) == ((1L, 2L, 1L, 1L, 1L, 1L, 6L, true)), s"${scan(0)}")
    assert(scan(1) == ((2L, 0L, 1L, 0L, 0L, 0L, 1L, true)), s"${scan(1)}")
    assert(scan(2) == ((3L, 0L, 0L, 0L, 0L, 0L, 0L, false)))
    val red = Quality.piiRedact(df, "text").get
    val r1 = red.filter(col("doc_id") === 1).select("text").as[String].head()
    assert(r1 == "mail [EMAIL] and [EMAIL], ip [IP], ssn [SSN], " +
      "card [CARD], call [PHONE]", r1)
    // idempotent: placeholders contain no digits, nothing re-matches
    val twice = Quality.piiRedact(red, "text").get
      .filter(col("doc_id") === 1).select("text").as[String].head()
    assert(twice == r1)
    // null text stays null, other columns untouched
    assert(red.filter(col("doc_id") === 4).select("text").head().isNullAt(0))
  }

  test("winsorize: exact grid-percentile clamp, grouped and global; " +
      "nulls pass through; guards") {
    // global 1..10 at (0.2, 0.8): rank lo = ceil(2) = 2 → 2.0,
    // rank hi = ceil(8) = 8 → 8.0
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val g = Quality.winsorize(df, "v", 0.2, 0.8).get
      .select("id", "v_w").as[(Long, Double)].collect().toMap
    assert(g(1L) == 2.0 && g(2L) == 2.0 && g(5L) == 5.0 &&
      g(8L) == 8.0 && g(10L) == 8.0)
    // grouped: group a = 1..10, group b = 101..110 — separate bounds
    val df2 = ((1 to 10).map(i => ("a", i.toDouble)) ++
      (101 to 110).map(i => ("b", i.toDouble))).toDF("grp", "v")
    val g2 = Quality.winsorize(df2, "v", 0.2, 0.8, byCols = Seq("grp"))
      .get.select("grp", "v", "v_w").as[(String, Double, Double)]
      .collect()
    assert(g2.filter(_._1 == "a").map(_._3).min == 2.0)
    assert(g2.filter(_._1 == "b").map(_._3).max == 108.0)
    assert(g2.filter(r => r._1 == "b" && r._2 == 101.0).head._3 == 102.0)
    // null values stay null, other columns untouched
    val withNull = Seq(("a", Some(1.0)), ("a", None), ("a", Some(9.0)),
      ("a", Some(5.0))).toDF("grp", "v")
    val n = Quality.winsorize(withNull, "v", 0.25, 0.75,
      byCols = Seq("grp")).get
    assert(n.filter(col("v").isNull).select("v_w").collect().head
      .isNullAt(0))
    assert(Quality.winsorize(df, "v", 0.9, 0.1).isFailing)
    assert(Quality.winsorize(df, "v", -0.1, 0.5).isFailing)
  }

  test("dpCounts: noise replays the documented inverse-CDF formula " +
      "exactly; 1/epsilon scaling; guards") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def noiseOf(key: String, salt: String, eps: Double): Double = {
      val h = java.lang.Long.parseLong(md5hex(s"$salt§$key").take(15), 16)
      val u = ((h >> 7).toDouble + 0.5) / 9007199254740992.0
      val cen = u - 0.5
      -1.0 / eps * math.signum(cen) * math.log(1.0 - 2.0 * math.abs(cen))
    }
    val df = (Seq.fill(7)("x") ++ Seq.fill(3)("y")).map(Tuple1(_))
      .toDF("grp")
    val got = Quality.dpCounts(df, Seq("grp"), epsilon = 1.0, salt = "s")
      .get.as[(String, Double)].collect().toMap
    def r6(v: Double) = math.rint((v + 1e-9) * 1e6) / 1e6
    assert(got("x") == r6(7.0 + noiseOf("x", "s", 1.0)))
    assert(got("y") == r6(3.0 + noiseOf("y", "s", 1.0)))
    // tighter epsilon → proportionally smaller noise
    val tight = Quality.dpCounts(df, Seq("grp"), epsilon = 4.0, salt = "s")
      .get.as[(String, Double)].collect().toMap
    assert(math.abs((tight("x") - 7.0) - (got("x") - 7.0) / 4.0) < 1e-5)
    // different salt → different noise realization
    val other = Quality.dpCounts(df, Seq("grp"), epsilon = 1.0, salt = "t")
      .get.as[(String, Double)].collect().toMap
    assert(other("x") != got("x"))
    assert(Quality.dpCounts(df, Seq.empty, 1.0).isFailing)
    assert(Quality.dpCounts(df, Seq("grp"), 0.0).isFailing)
  }

  test("zipfReport: hand-computed totals and closed-form OLS on a tiny " +
      "vocabulary") {
    val df = Seq((1L, "a a a a b"), (2L, "b c")).toDF("id", "text")
    // freqs a:4 b:2 c:1 → ranks 1,2,3; hapax 1/3; top 4/7
    val row = Quality.zipfReport(df, "text").get
      .as[(Long, Long, Double, Double, Int, Double, Double)].head()
    def r6(v: Double) = math.rint((v + 1e-9) * 1e6) / 1e6
    val xs = Seq(1, 2, 3).map(r => math.log(r.toDouble))
    val ys = Seq(4L, 2L, 1L).map(c => math.log(c.toDouble))
    val (n, sx, sy) = (3.0, xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val syy = ys.map(y => y * y).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    assert(row == ((7L, 3L, r6(1.0 / 3.0), r6(4.0 / 7.0), 3,
      r6(num / den), r6(num * num / (den * (n * syy - sy * sy))))))
  }

  test("zipfReport: fitTerms caps the fit; degenerate corpora yield NULL " +
      "ratios, never NaN; guards") {
    val df = Seq((1L, "a a a a b"), (2L, "b c")).toDF("id", "text")
    val capped = Quality.zipfReport(df, "text", fitTerms = 2).get
      .select("n_fit").as[Int].head()
    assert(capped == 2)
    // single-term vocabulary: OLS denominator 0 → NULL slope/r2
    val single = Quality.zipfReport(
      Seq((1L, "a a")).toDF("id", "text"), "text").get
    val s = single.select("n_vocab", "zipf_slope", "zipf_r2").head()
    assert(s.getLong(0) == 1L && s.isNullAt(1) && s.isNullAt(2))
    // empty corpus: zero counts, NULL fractions
    val empty = Quality.zipfReport(
      Seq((1L, null.asInstanceOf[String])).toDF("id", "text"), "text").get
    val e = empty.select("n_tokens", "n_vocab", "hapax_frac", "top1_share")
      .head()
    assert(e.getLong(0) == 0L && e.getLong(1) == 0L &&
      e.isNullAt(2) && e.isNullAt(3))
    assert(Quality.zipfReport(df, "text", fitTerms = 1).isFailing)
  }

  // --- bleu / rougeN -----------------------------------------------------

  test("bleu: identity is 1, the Papineni degenerate clips, BP penalizes") {
    val df = Seq(
      (1L, "the cat sat on the mat", "the cat sat on the mat"),
      (2L, "the the the the the the the", "the cat is on the mat"),
      (3L, "a b", "a b c d")
    ).toDF("id", "cand", "ref")
    val m1 = Quality.bleu(df, "cand", "ref", maxN = 1).get
      .select("id", "bleu").as[(Long, Option[Double])].collect().toMap
    // identity: every precision 1, BP 1
    assert(m1(1L) == Some(1.0))
    // clipping: min(7 "the", 2 in ref) / 7
    assert(m1(2L) == Some(BigDecimal(2.0 / 7.0 + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // brevity penalty: p1 = 1 but c = 2 < r = 4 -> exp(1 - 2) = e^-1
    assert(m1(3L) == Some(BigDecimal(math.exp(-1.0) + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // unsmoothed: a zero bigram precision zeroes BLEU
    val m2 = Quality.bleu(df, "cand", "ref", maxN = 2).get
      .select("id", "bleu").as[(Long, Option[Double])].collect().toMap
    assert(m2(1L) == Some(1.0) && m2(2L) == Some(0.0))
  }

  test("bleu: undefined cases are NULL, knobs validate") {
    val df = Seq(
      (1L, "single", "a reference with words"),
      (2L, "a candidate with words", "")
    ).toDF("id", "cand", "ref")
    val m = Quality.bleu(df, "cand", "ref", maxN = 2).get
      .select("id", "bleu").as[(Long, Option[Double])].collect().toMap
    assert(m(1L).isEmpty && m(2L).isEmpty)
    assert(Quality.bleu(df, "cand", "ref", maxN = 0).isFailing)
    assert(Quality.bleu(df, "cand", "ref", maxN = 7).isFailing)
  }

  test("rougeN: hand-computed precision/recall/F1 and the zero path") {
    val df = Seq(
      (1L, "a b c", "a b d"),
      (2L, "x y", "p q"),
      (3L, "a", "a b")
    ).toDF("id", "cand", "ref")
    val m = Quality.rougeN(df, "cand", "ref", n = 2).get
      .select("id", "rouge2_precision", "rouge2_recall", "rouge2_f1")
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(m(1L) == ((Some(0.5), Some(0.5), Some(0.5))))
    assert(m(2L) == ((Some(0.0), Some(0.0), Some(0.0))))
    assert(m(3L) == ((None, None, None)))
    assert(Quality.rougeN(df, "cand", "ref", n = 0).isFailing)
  }

  // --- privacy reports -----------------------------------------------------

  test("kAnonymityReport flags small classes and sizes the suppression") {
    val df = (Seq.fill(10)(("US", "en")) ++ Seq.fill(3)(("US", "fr")) ++
      Seq.fill(7)(("DE", "de"))).toDF("country", "lang")
    val got = Quality.kAnonymityReport(df, Seq("country", "lang"), k = 5)
      .get.orderBy("country", "lang")
      .select("country", "lang", "n", "violates", "violation_row_share")
      .as[(String, String, Long, Boolean, Double)].collect().toSeq
    assert(got == Seq(("DE", "de", 7L, false, 0.15),
      ("US", "en", 10L, false, 0.15), ("US", "fr", 3L, true, 0.15)))
    assert(Quality.kAnonymityReport(df, Nil, 5).isFailing)
    assert(Quality.kAnonymityReport(df, Seq("country"), 1).isFailing)
  }

  test("lDiversityReport: constant-sensitive classes violate, entropy " +
      "matches hand values") {
    val df = (Seq.fill(6)(("seg1", "x")) ++
      Seq.fill(3)(("seg2", "x")) ++ Seq.fill(3)(("seg2", "y")))
      .toDF("seg", "s")
    val got = Quality.lDiversityReport(df, Seq("seg"), "s", l = 2).get
      .orderBy("seg")
      .select("seg", "n", "n_sensitive", "entropy", "violates")
      .as[(String, Long, Long, Double, Boolean)].collect().toSeq
    val ln2 = BigDecimal(math.log(2.0) + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(("seg1", 6L, 1L, 0.0, true),
      ("seg2", 6L, 2L, ln2, false)))
  }
}
