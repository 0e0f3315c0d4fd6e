package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanFingerprint

/** Plan-skeleton locks for every headliner in `PlanFingerprint.headline`
  * (VERDICT r11 ask #2): the q55 lesson is that a silent strategy flip
  * hides inside timing noise until it costs seconds at 100× — so every
  * headliner's join strategies, exchange count, window/top-k families,
  * and scan pushdown are asserted against a committed fingerprint. A
  * refactor that drifts any of them fails HERE, deterministically, not
  * in a timing.
  *
  * The table is the static (AQE-initial) plan against the fixed
  * sf0.001 files — same code + same data ⇒ same skeleton. After an
  * INTENDED plan change, regenerate the changed rows with
  * `runMain graft.tools.FingerprintProbe <query...>` and commit the
  * diff — the diff IS the plan-review artifact. */
class PlanFingerprintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private val committed: Map[String, String] = Map(
    "q01_agg" ->
      "ex=2 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=1 partf=0",
    "q12_join_inner" ->
      "ex=2 bex=1 reuse=0 bhj=1 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=2 partf=0",
    "q15_join_broadcast" ->
      "ex=2 bex=1 reuse=0 bhj=1 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=2 partf=0",
    "q20_window_running" ->
      "ex=2 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=1 wgl=0 top=0 sort=2 pushed=0 partf=0",
    "q33_dedup_exact" ->
      "ex=2 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=1 wgl=2 top=0 sort=3 pushed=0 partf=0",
    "q34_dedup_minhash" ->
      "ex=4 bex=5 reuse=0 bhj=5 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=4 partf=0",
    "q37_dedup_embedding" ->
      "ex=4 bex=5 reuse=0 bhj=5 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=4 partf=0",
    "q38_knn_brute" ->
      "ex=2 bex=1 reuse=0 bhj=0 smj=0 shj=0 bnl=1 cart=0 win=1 wgl=2 top=0 sort=3 pushed=2 partf=0",
    "q42_event_window" ->
      "ex=2 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=1 partf=0",
    "q52_asof_join" ->
      "ex=2 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=3 wgl=0 top=0 sort=4 pushed=2 partf=0",
    "q54_tpch3" ->
      "ex=1 bex=2 reuse=0 bhj=2 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=1 sort=0 pushed=3 partf=0",
    "q55_tpch5" ->
      "ex=2 bex=4 reuse=0 bhj=4 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=5 partf=0",
    "q65_dedup_transitive" ->
      "ex=2 bex=2 reuse=0 bhj=2 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=0 partf=0",
    "q76_tfidf" ->
      "ex=1 bex=1 reuse=0 bhj=1 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=0 partf=0",
    "q86_tpch10" ->
      "ex=1 bex=3 reuse=0 bhj=3 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=1 sort=0 pushed=4 partf=0",
    "q94_paragraph_dedup" ->
      "ex=3 bex=1 reuse=0 bhj=1 smj=0 shj=0 bnl=0 cart=0 win=1 wgl=0 top=0 sort=2 pushed=0 partf=0",
    "q96_lm_score" ->
      "ex=10 bex=6 reuse=0 bhj=4 smj=0 shj=0 bnl=2 cart=0 win=0 wgl=0 top=0 sort=1 pushed=1 partf=0",
    "q102_span_dedup" ->
      "ex=3 bex=2 reuse=0 bhj=2 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=3 pushed=1 partf=0",
    "q113_semantic_dedup" ->
      "ex=5 bex=1 reuse=0 bhj=1 smj=1 shj=0 bnl=0 cart=0 win=2 wgl=0 top=0 sort=5 pushed=0 partf=0",
    "q114_dsir" ->
      "ex=7 bex=6 reuse=0 bhj=4 smj=1 shj=0 bnl=2 cart=0 win=0 wgl=0 top=0 sort=3 pushed=6 partf=0",
    "q126_gopher_repetition" ->
      "ex=4 bex=1 reuse=0 bhj=1 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=1 partf=0",
    "q124_audio_spectrum" ->
      "ex=1 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=0 partf=0",
    "q143_frequent_ngrams" ->
      "ex=2 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=1 sort=0 pushed=0 partf=0",
    "q171_tpch9" ->
      "ex=2 bex=4 reuse=0 bhj=4 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=5 partf=0",
    "q173_tpch21" ->
      "ex=3 bex=3 reuse=0 bhj=3 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=1 sort=0 pushed=4 partf=0",
    "q182_pq_knn" ->
      "ex=3 bex=3 reuse=0 bhj=2 smj=0 shj=0 bnl=1 cart=0 win=2 wgl=4 top=0 sort=5 pushed=4 partf=0",
    "q179_mmr_select" ->
      "ex=3 bex=1 reuse=0 bhj=0 smj=0 shj=0 bnl=1 cart=0 win=1 wgl=2 top=0 sort=4 pushed=2 partf=0",
    "q195_pagerank" ->
      "ex=1 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=0 partf=0",
    "q196_bipartite_projection" ->
      "ex=4 bex=1 reuse=0 bhj=1 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=2 partf=0",
    "q234_louvain_bipartite" ->
      "ex=1 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=0 partf=0",
    "q233_seasonal" ->
      "ex=7 bex=5 reuse=0 bhj=5 smj=0 shj=0 bnl=0 cart=0 win=3 wgl=0 top=0 sort=4 pushed=6 partf=0",
    "q248_markov_attribution" ->
      "ex=1 bex=1 reuse=0 bhj=0 smj=0 shj=0 bnl=1 cart=0 win=1 wgl=0 top=0 sort=1 pushed=0 partf=0",
    "q251_sssp_weighted" ->
      "ex=1 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=0 partf=0",
    "q252_contamination" ->
      "ex=7 bex=2 reuse=0 bhj=2 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=3 partf=0",
    "q261_record_linkage" ->
      "ex=8 bex=5 reuse=0 bhj=5 smj=0 shj=0 bnl=0 cart=0 win=4 wgl=4 top=0 sort=7 pushed=2 partf=0",
    "q268_theil_sen" ->
      "ex=4 bex=2 reuse=0 bhj=2 smj=0 shj=0 bnl=0 cart=0 win=5 wgl=6 top=0 sort=8 pushed=3 partf=0",
    "q289_mann_kendall" ->
      "ex=4 bex=1 reuse=0 bhj=1 smj=1 shj=0 bnl=0 cart=0 win=3 wgl=6 top=0 sort=9 pushed=3 partf=0",
    "q293_textrank" ->
      "ex=0 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=1 sort=0 pushed=0 partf=0",
    "q319_louvain_full_bipartite" ->
      "ex=1 bex=0 reuse=0 bhj=0 smj=0 shj=0 bnl=0 cart=0 win=0 wgl=0 top=0 sort=1 pushed=0 partf=0")

  test("every bench headliner is fingerprinted — no unlocked additions") {
    val missing = PlanFingerprint.headline.filterNot(committed.contains)
    assert(missing.isEmpty,
      s"headliners without a committed plan fingerprint: $missing — " +
        "run graft.tools.FingerprintProbe and add the rows")
  }

  // the one failure mode a static fingerprint can't see: an AQE
  // runtime re-plan flipping a broadcast into an exchange at the bench
  // scale. Execute the join-strategy-sensitive TPC-H headliners at
  // sf0.1 and fingerprint the FINAL adaptive plans — the r12 evidence
  // runs show each is identical to its static sf0.001 skeleton (all
  // dimension joins stay broadcast; r11's q55 0.826→1.181 s was bench
  // variance, not a plan flip), so the static table doubles as the
  // executed-plan lock.
  Seq("q54_tpch3", "q55_tpch5", "q86_tpch10", "q171_tpch9",
    "q173_tpch21").foreach { q =>
    test(s"AQE FINAL plan at sf0.1 matches the static skeleton: $q") {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.1")
      // materialize THIS Dataset's QueryExecution (r12 ADVICE: a
      // `df.count()` builds a separate groupBy().count() execution and
      // leaves df.queryExecution on the AQE-initial plan, making the
      // lock vacuous) — collect() runs df.queryExecution itself, so the
      // fingerprint below reads the committed adaptive plan
      df.collect()
      val plan = df.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("isFinalPlan=true"),
        s"$q explain does not show the FINAL adaptive plan — the " +
          "materialization no longer drives this QueryExecution")
      val got = PlanFingerprint.of(df)
      assert(got == committed(q),
        s"\n$q FINAL adaptive plan drifted from the static skeleton\n" +
          s"  committed: ${committed(q)}\n  current:   $got")
    }
  }

  // one test per headliner so a drift names the query in the report
  PlanFingerprint.headline.foreach { q =>
    test(s"plan fingerprint: $q") {
      val got = PlanFingerprint.of(SparkEntry.queries(q)(spark, dir))
      assert(got == committed(q),
        s"\nplan skeleton drifted for $q\n  committed: ${committed(q)}\n" +
          s"  current:   $got\nIf the change is INTENDED, regenerate " +
          s"with `runMain graft.tools.FingerprintProbe $q` and commit " +
          "the new row — the diff is the plan-review artifact.")
    }
  }
}
