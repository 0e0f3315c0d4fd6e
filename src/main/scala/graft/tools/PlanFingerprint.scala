package graft.tools

import org.apache.spark.sql.DataFrame

/** Canonical physical-plan skeleton of a query — the strategy-drift
  * detector behind PlanFingerprintSpec (VERDICT r11 ask #2): a silent
  * join-strategy or exchange-count flip is invisible in a noisy bench
  * until it costs seconds, but it changes THIS string immediately.
  *
  * The fingerprint counts, from the FormattedMode node list (one line
  * per node, so reuse never double-counts):
  *   - shuffle exchanges (`ex`), broadcast exchanges (`bex`), reused
  *     exchanges (`reuse`)
  *   - every join strategy (`bhj`/`smj`/`shj`/`bnl`/`cart`)
  *   - window families (`win`/`wgl`), top-k (`top`), global sorts
  *     (`sort`)
  *   - parquet scans with non-empty PushedFilters (`pushed`) and
  *     non-empty PartitionFilters (`partf`)
  *
  * Deterministic because it reads the STATIC plan (AQE's initial plan
  * before any runtime re-plan) against the fixed sf0.001 files — the
  * same code + same data always prints the same skeleton, so the spec
  * can assert string equality against the committed table. */
object PlanFingerprint {

  /** The gate queries whose plan skeletons PlanFingerprintSpec locks:
    * one per plan shape whose cost at scale hangs on a strategy choice
    * the optimizer can flip silently (a broadcast turning into a
    * shuffle, a window family or exchange appearing or disappearing). */
  val headline: Seq[String] = Seq(
    // the relational basics: wide partial aggregation, shuffle join,
    // broadcast join and running window
    "q01_agg",
    "q12_join_inner",
    "q15_join_broadcast",
    "q20_window_running",
    // exact dedup's window-group-limit, the MinHash and embedding LSH
    // band joins and brute-force k-NN's nested loop: a lost broadcast
    // here turns into a quadratic shuffle
    "q33_dedup_exact",
    "q34_dedup_minhash",
    "q37_dedup_embedding",
    "q38_knn_brute",
    // event-time window, and the as-of join's three window families
    "q42_event_window",
    "q52_asof_join",
    // TPC-H Q3 and Q5: every dimension join must stay broadcast (the
    // spec also locks their final adaptive plans at sf0.1)
    "q54_tpch3",
    "q55_tpch5",
    // transitive dedup (iterative connected components), the sparse
    // TF-IDF pair join and TPC-H Q10's 3-way join
    "q65_dedup_transitive",
    "q76_tfidf",
    "q86_tpch10",
    // paragraph dedup (explode, window, ordered reassembly) and the
    // n-gram LM (two count tables joined back to the token stream)
    "q94_paragraph_dedup",
    "q96_lm_score",
    // span dedup: the positional gram shuffle and its rebuild join
    "q102_span_dedup",
    // codebook-cell quadratic pairing and the broadcast-scored
    // two-corpus gram stream
    "q113_semantic_dedup",
    "q114_dsir",
    // the 9-gram-order tagged explode, and the per-row codec and FFT
    // pipeline (a mapPartitions kernel that must stay one exchange deep)
    "q126_gopher_repetition",
    "q124_audio_spectrum",
    // corpus-wide trigram mining: the widest explode, through one
    // partial-aggregate shuffle into a top-k
    "q143_frequent_ngrams",
    // the deepest TPC-H join trees: Q9's 5-way fan-out and Q21's
    // decorrelated EXISTS/NOT EXISTS, where join-order and
    // broadcast-threshold drift shows first
    "q171_tpch9",
    "q173_tpch21",
    // the PQ scan with lookup tables and exhaustive rerank, and MMR over
    // window-group-limit-capped shortlists
    "q182_pq_knn",
    "q179_mmr_select",
    // PageRank (the returned plan starts at the last per-round
    // checkpoint) and the bipartite co-occurrence self-join
    "q195_pagerank",
    "q196_bipartite_projection",
    // Louvain local moves, and STL-lite's two window families and phase
    // aggregate over a gap-filled grid
    "q234_louvain_bipartite",
    "q233_seasonal",
    // the absorbing-chain solve, weighted SSSP and the 5-gram
    // decontamination screen (two gram explosions and a gram-keyed join)
    "q248_markov_attribution",
    "q251_sssp_weighted",
    "q252_contamination",
    // blocked Jaro-Winkler linkage and the per-key Theil-Sen and
    // Mann-Kendall pair self-joins: quadratic within a key or block
    "q261_record_linkage",
    "q268_theil_sen",
    "q289_mann_kendall",
    // TextRank's explode-then-iterate composition, and full Louvain's
    // community contraction and coarse passes
    "q293_textrank",
    "q319_louvain_full_bipartite"
  )

  private val nodeHeader = """(?m)^\s*\((\d+)\)\s+([A-Za-z]+)""".r

  def of(df: DataFrame): String = {
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // An EXECUTED AdaptiveSparkPlan explains BOTH trees — "== Final
    // Plan ==" (reusing the leaf/scan ids) then "== Initial Plan =="
    // (fresh ids for everything above the reused leaves) — with one
    // detail header per id across both; subquery sections repeat the
    // same Final/Initial structure per hosted AdaptiveSparkPlan.
    // Counting all headers would double every node (the r12 ADVICE
    // vacuous-lock fix exposed this), so the fingerprint EXCLUDES the
    // ids that appear only in Initial Plan tree sections: the executed
    // plan is the one the lock is about. The banned set is built by a
    // line scan over the TREE sections (mode flips at the Final/
    // Initial markers and resets at any column-0 root/header line or
    // at the first detail header), so non-adaptive subquery trees and
    // unexecuted plans are untouched — their banned set is empty.
    // Scan details (PushedFilters / PartitionFilters) are shared by id
    // between the trees, so the pushdown counts need no restriction.
    val banned: Set[String] = {
      val idRe = """\((\d+)\)""".r
      val fin = scala.collection.mutable.Set.empty[String]
      val ini = scala.collection.mutable.Set.empty[String]
      var mode = 0 // 0 = outside, 1 = Final tree, 2 = Initial tree
      plan.linesIterator.foreach { line =>
        if (line.contains("== Final Plan ==")) mode = 1
        else if (line.contains("== Initial Plan ==")) mode = 2
        else if (line.matches("""^[A-Za-z=].*""") ||
          line.matches("""^\s*\(\d+\).*""")) mode = 0
        else if (mode == 1)
          idRe.findAllMatchIn(line).foreach(m => fin += m.group(1))
        else if (mode == 2)
          idRe.findAllMatchIn(line).foreach(m => ini += m.group(1))
      }
      (ini -- fin).toSet
    }
    // one detail header per node: "(7) Exchange [codegen id : 2]" — the
    // tree section draws nodes with +- / : prefixes, never at ^\(
    val nodes = nodeHeader.findAllMatchIn(plan)
      .filter(m => !banned.contains(m.group(1)))
      .map(_.group(2)).toSeq
    def c(n: String) = nodes.count(_ == n)
    val pushed = """PushedFilters: \[[^\]]""".r.findAllIn(plan).size
    val partf = """PartitionFilters: \[[^\]]""".r.findAllIn(plan).size
    Seq(
      s"ex=${c("Exchange")}",
      s"bex=${c("BroadcastExchange")}",
      s"reuse=${c("ReusedExchange")}",
      s"bhj=${c("BroadcastHashJoin")}",
      s"smj=${c("SortMergeJoin")}",
      s"shj=${c("ShuffledHashJoin")}",
      s"bnl=${c("BroadcastNestedLoopJoin")}",
      s"cart=${c("CartesianProduct")}",
      s"win=${c("Window")}",
      s"wgl=${c("WindowGroupLimit")}",
      s"top=${c("TakeOrderedAndProject")}",
      s"sort=${c("Sort")}",
      s"pushed=$pushed",
      s"partf=$partf").mkString(" ")
  }
}

/** Prints the committed-fingerprint table source for the spec: run once
  * after an INTENDED plan change, paste the updated row(s). */
object FingerprintProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else PlanFingerprint.headline
    names.foreach { q =>
      val fp = PlanFingerprint.of(graft.SparkEntry.queries(q)(spark, dir))
      println(s"""    "$q" ->\n      "$fp",""")
    }
    spark.stop()
  }
}
