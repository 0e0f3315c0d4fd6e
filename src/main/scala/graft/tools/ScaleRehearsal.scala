package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale rehearsal: replicate the sf0.1 tables in-memory and time the
  * scale-critical operators, looking for super-linear behavior.
  *
  * Emits a machine-readable artifact (`args(1)`, default
  * `REHEARSAL.json`): per-operator seconds plus every standing invariant
  * as a named boolean — so scale regressions are visible round-over-round
  * as a diffable gate file, not only in ad-hoc logs. Invariants still
  * `assert` (a violated one aborts the run AND leaves `"aborted"` in the
  * artifact). */
object ScaleRehearsal {

  // Fixed-work host-state calibrations. The work never changes between
  // rehearsals, so the seconds measure the host: divide two rehearsals'
  // timings by the matching calibration ratio before calling a delta a
  // regression.

  /** The fastest of `runs` timed runs of `work`, after one untimed run
    * when `warmup` (codegen, JIT, first file creation). */
  private def minSeconds(runs: Int, warmup: Boolean)(work: => Unit): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      work
      (System.nanoTime() - t0) / 1e9
    }
    if (warmup) once()
    (0 until math.max(1, runs)).map(_ => once()).min
  }

  /** Single-thread CPU: a constant splitmix64 fold, no allocation, no
    * Spark. */
  private def cpuCalibration(runs: Int): Double = {
    var sink = 0L
    val sec = minSeconds(runs, warmup = false) {
      var acc = 0L
      var i = 0L
      while (i < 200000000L) { acc ^= graft.functions.VecOps.splitmix64(i); i += 1 }
      sink ^= acc // consume: the fold must not be dead-code-eliminated
    }
    if (sink == 42L) System.err.println("") // keep `sink` observably live
    sec
  }

  /** Disk: create, write and fsync 64 4-KiB files, the cost that
    * dominates a streaming state-store commit. */
  private def diskCalibration(runs: Int): Double = {
    import java.nio.file.{Files, StandardOpenOption}
    val dir = Files.createTempDirectory("graft_disk_cal")
    val payload = Array.fill(4096)(7.toByte)
    try minSeconds(runs, warmup = true) {
      (0 until 64).foreach { i =>
        val ch = java.nio.channels.FileChannel.open(dir.resolve(s"f$i"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE,
          StandardOpenOption.TRUNCATE_EXISTING)
        try { ch.write(java.nio.ByteBuffer.wrap(payload)); ch.force(true) }
        finally ch.close()
      }
    } finally {
      (0 until 64).foreach(i => Files.deleteIfExists(dir.resolve(s"f$i")))
      Files.deleteIfExists(dir)
    }
  }

  /** Spark executors: a constant `range → xxhash64 → bit_xor` job (not
    * sum: summing random 64-bit hashes overflows a long under ANSI). */
  private def sparkCalibration(spark: SparkSession, runs: Int): Double =
    minSeconds(runs, warmup = true) {
      spark.range(0L, 100000000L, 1L, 32)
        .agg(expr("bit_xor(xxhash64(id))")).collect()
    }

  /** Spark scheduler: a trivial two-stage shuffle job (32 map tasks over
    * 32k rows), so the seconds are scheduling and stage-launch overhead. */
  private def schedCalibration(spark: SparkSession, runs: Int): Double =
    minSeconds(runs, warmup = true) {
      spark.range(0L, 32768L, 1L, 32)
        .groupBy(expr("id % 256")).count()
        .agg(count(lit(1))).collect()
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val outPath = args.lift(1).getOrElse("REHEARSAL.json")

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val invariants = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    // rehearsal timings drift with host load: normalize cross-round
    // deltas by the calibration ratio first
    val calCpu = cpuCalibration(2)
    val calSpark = sparkCalibration(spark, 2)
    val calDisk = diskCalibration(2)
    val calSched = schedCalibration(spark, 5)
    println(f"[rehearsal] calibration cpu=$calCpu%.2f s spark=$calSpark%.2f s " +
      f"disk=$calDisk%.3f s sched=$calSched%.3f s")
    def writeArtifact(aborted: Boolean): Unit = {
      val ts = timings.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
        .mkString("{", ",", "}")
      val inv = invariants.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
        s"""{"mult":$mult,"aborted":$aborted,"timings_sec":$ts,"invariants":$inv,""" +
          s""""calibration":{"cpu_kernel_sec":${f"$calCpu%.2f"},"spark_range_sec":${f"$calSpark%.2f"},"disk_fsync_sec":${f"$calDisk%.3f"},"spark_sched_sec":${f"$calSched%.3f"}}}""" + "\n")
    }
    def check(name: String, cond: Boolean, msg: => String): Unit = {
      invariants(name) = cond
      if (!cond) { writeArtifact(aborted = true); sys.error(msg) }
    }

    def replicate(df: DataFrame, idCols: Seq[String]): DataFrame =
      (0 until mult).map { i =>
        idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + i.toLong * 100000000L))
      }.reduce(_ union _)

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      val sec = (System.nanoTime() - t0) / 1e9
      timings(name) = sec
      println(f"[rehearsal] $name%-24s $sec%8.2f s  rows=$n")
    }

    val docs = replicate(spark.read.parquet(s"$dir/documents.parquet"), Seq("doc_id"))
    val li = replicate(spark.read.parquet(s"$dir/lineitem.parquet"), Seq("l_orderkey"))
    val emb = replicate(spark.read.parquet(s"$dir/embeddings.parquet"), Seq("vec_id"))
    val nDocs = docs.count()
    println(s"[rehearsal] mult=$mult docs=$nDocs lineitem=${li.count()} emb=${emb.count()}")

    time("q1-agg")(li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1))).count())
    time("window-running")(li.select(col("l_suppkey"), col("l_orderkey"),
      sum(col("l_quantity")).over(org.apache.spark.sql.expressions.Window
        .partitionBy("l_suppkey").orderBy("l_orderkey", "l_linenumber")
        .rowsBetween(Long.MinValue, 0))).count())
    time("dedup-exact")(graft.operators.Dedup.exact(docs, Seq("text"), "doc_id").get.count())
    time("dedup-minhash")(graft.operators.Dedup.minhashPairs(
      docs, "text", "doc_id", threshold = 0.5).get.count())
    // r13: persisted-band-index incremental law at 10x (the q399 law at
    // scale) — "yesterday" = the first half of the replicas, "today" =
    // the rest; the index rides through parquet and yesterday's pairs ∪
    // the incremental output must equal the one-shot pair set of the
    // grown corpus EXACTLY (the banded join sees cross-epoch dup
    // cliques, the heaviest candidate regime replication can build)
    locally {
      val halfOff = math.max(mult / 2, 1).toLong * 100000000L
      val oldDocs = docs.filter(col("doc_id") < halfOff)
      val newDocs = docs.filter(col("doc_id") >= halfOff)
      val store = java.nio.file.Files
        .createTempDirectory("graft_rehearsal_bandidx").toString
      var diff = -1L
      time("dedup-index-incremental")({
        graft.operators.Dedup.minhashBandIndex(oldDocs, "text", "doc_id")
          .get.write.mode("overwrite").parquet(store)
        val union = graft.operators.Dedup.minhashPairs(
            oldDocs, "text", "doc_id", threshold = 0.5).get
          .unionByName(graft.operators.Dedup.minhashPairsIncremental(
            newDocs, "text", "doc_id", spark.read.parquet(store),
            threshold = 0.5).get)
          .localCheckpoint(true)
        val oneShot = graft.operators.Dedup.minhashPairs(
          docs, "text", "doc_id", threshold = 0.5).get.localCheckpoint(true)
        diff = union.exceptAll(oneShot).count() +
          oneShot.exceptAll(union).count()
        val n = union.count()
        graft.physical.Optimise.releaseCheckpoint(union)
        graft.physical.Optimise.releaseCheckpoint(oneShot)
        n
      })
      check("bandindex_incremental_law", diff == 0,
        s"persisted-index incremental diverged from one-shot: $diff rows")
    }
    // r14: the COMPOSED epoch operator's chained law at 10x (r13
    // verdict ask #1) — three dedupEpoch runs through parquet, split
    // by doc_id mod 3 so every replica clique spans all three epochs
    // (cross-epoch bridges + retractions everywhere), must equal the
    // one-shot pairs+clustering of the grown corpus at CLUSTER level
    locally {
      val store = java.nio.file.Files
        .createTempDirectory("graft_rehearsal_epoch").toString
      var labelDiff = -1L
      var cumKeptDiff = -1L
      time("dedup-epoch-chain")({
        var prior: Option[graft.operators.Dedup.EpochState] = None
        for (i <- 0 to 2) {
          val st = graft.operators.Dedup.dedupEpoch(
            docs.filter(pmod(col("doc_id"), lit(3)) === i),
            "text", "doc_id", prior, threshold = 0.5).get
          st.write(s"$store/e$i")
          prior = Some(graft.operators.Dedup.EpochState.load(
            spark, s"$store/e$i"))
        }
        val fin = prior.get
        val labels = fin.labels.localCheckpoint(true)
        val oneShot = graft.operators.Dedup.duplicateClusters(
          graft.operators.Dedup.minhashPairs(docs, "text", "doc_id",
            threshold = 0.5, maxBucket = Int.MaxValue).get).get
          .localCheckpoint(true)
        labelDiff = labels.exceptAll(oneShot).count() +
          oneShot.exceptAll(labels).count()
        // cumulative corpus law: (∪ kept) ∖ (∪ retractions) == the
        // one-shot representative set of the grown corpus
        val kept = (0 to 2).map(i => spark.read
          .parquet(s"$store/e$i/kept").select(col("doc_id")))
          .reduce(_ union _)
        val retr = (0 to 2).map(i => spark.read
          .parquet(s"$store/e$i/retractions")).reduce(_ union _)
        val cumKept = kept.join(retr.withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left_anti")
        val oneShotReps = docs.select(col("doc_id"))
          .join(oneShot.filter(col("cluster") =!= col("id"))
            .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        cumKeptDiff = cumKept.exceptAll(oneShotReps).count() +
          oneShotReps.exceptAll(cumKept).count()
        val n = labels.count()
        graft.physical.Optimise.releaseCheckpoint(labels)
        graft.physical.Optimise.releaseCheckpoint(oneShot)
        n
      })
      check("dedup_epoch_chain_law", labelDiff == 0,
        s"3-epoch chained labels diverged from one-shot: $labelDiff rows")
      check("dedup_epoch_kept_law", cumKeptDiff == 0,
        s"cumulative kept ∖ retractions diverged from one-shot " +
          s"representatives: $cumKeptDiff rows")
    }
    // the vector-side epoch (embeddingDedupEpoch) under the same
    // 3-way chained law — replica cliques of identical vectors span
    // the epochs, the heaviest bridge regime
    locally {
      val store = java.nio.file.Files
        .createTempDirectory("graft_rehearsal_embepoch").toString
      var labelDiff = -1L
      time("embedding-epoch-chain")({
        var prior: Option[graft.operators.Dedup.EpochState] = None
        for (i <- 0 to 2) {
          val st = graft.operators.Dedup.embeddingDedupEpoch(
            emb.filter(pmod(col("vec_id"), lit(3)) === i),
            "embedding", "vec_id", prior, threshold = 0.25).get
          st.write(s"$store/e$i")
          prior = Some(graft.operators.Dedup.EpochState.load(
            spark, s"$store/e$i"))
        }
        val labels = prior.get.labels.localCheckpoint(true)
        val oneShot = graft.operators.Dedup.duplicateClusters(
          graft.operators.Dedup.embeddingNearDupPairsPortable(emb,
            "embedding", "vec_id", threshold = 0.25,
            maxBucket = Int.MaxValue).get).get.localCheckpoint(true)
        labelDiff = labels.exceptAll(oneShot).count() +
          oneShot.exceptAll(labels).count()
        val n = labels.count()
        graft.physical.Optimise.releaseCheckpoint(labels)
        graft.physical.Optimise.releaseCheckpoint(oneShot)
        n
      })
      check("embedding_epoch_chain_law", labelDiff == 0,
        s"3-epoch embedding labels diverged from one-shot: $labelDiff rows")
    }
    // nBits sizes buckets to the corpus: 20k vectors / 2^8 buckets ≈ 78
    // per bucket — deliberately coarser than the auto-sizer's ~16 target
    // so the hand-tuned-too-wide cost stays visible as a datapoint
    // (4 bits would mean 1250-vector buckets — quadratic verification;
    // bucket granularity is THE cost knob)
    time("dedup-embedding")(graft.operators.Dedup.embeddingNearDupPairs(
      emb, "embedding", "vec_id", threshold = 0.25, nBits = 8, tables = 8).get.count())
    time("dedup-embedding-portable")(graft.operators.Dedup.embeddingNearDupPairsPortable(
      emb, "embedding", "vec_id", threshold = 0.25, bandBits = 10, nBands = 6).get.count())
    // occupancy-sized signature (nBits auto): same operator without the
    // hand-tuned width — the knob that breaks at 100x corpus growth
    time("dedup-embedding-auto")(graft.operators.Dedup.embeddingNearDupPairs(
      emb, "embedding", "vec_id", threshold = 0.25, nBits = 0, tables = 8).get.count())
    time("knn-brute")(graft.operators.Similarity.bruteForceKnn(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5).get.count())
    time("bloom-semijoin")(graft.operators.Sketch.bloomSemiJoin(
      li, li.select(col("l_orderkey").as("k")).sample(0.001, 42).distinct(),
      "l_orderkey", "k").get.count())
    time("cms-topk")(graft.operators.Sketch.countMinTopK(
      li, "l_partkey", k = 10).get.count())
    time("upsert-broadcast")(graft.operators.Merge.upsert(
      li.select("l_orderkey", "l_linenumber", "l_quantity"),
      li.select("l_orderkey", "l_linenumber", "l_quantity")
        .sample(0.001, 42).dropDuplicates("l_orderkey", "l_linenumber")
        .withColumn("l_quantity", col("l_quantity") + 1),
      keys = Seq("l_orderkey", "l_linenumber"), broadcastUpdates = true).get.count())
    // df-pruned TF-IDF: the scale path — ubiquitous sentence-pool terms
    // are exactly the quadratic hot keys the maxDf filter exists for
    time("tfidf-pairs")(graft.operators.TfIdf.similarPairs(
      docs, "text", "doc_id", threshold = 0.95, maxDfFraction = 0.2).get.count())
    time("dedup-transitive")(graft.operators.Dedup.minhashDedupTransitive(
      docs, "text", "doc_id", threshold = 0.5).get.count())

    // round-3 segment/LM/quantize operators (paragraph structure is
    // synthesized from doc_id + text the same way the q94/q95 gates do)
    def withParagraphs(d: DataFrame): DataFrame = d.select(col("doc_id"),
      concat(lit("head "), pmod(col("doc_id"), lit(3)), lit("\n\n"),
        substring(col("text"), 1, 90), lit("\n\n"),
        lit("footer "), pmod(col("doc_id"), lit(7))).as("text"))
    def withLines(d: DataFrame): DataFrame = d.select(col("doc_id"),
      concat(substring(col("text"), 1, 60), lit("\n"),
        lit("accept cookies to continue"), lit("\n"),
        substring(col("text"), 61, 60)).as("text"))
    time("segment-dedup")(graft.operators.Segments.segmentDedup(
      withParagraphs(docs), "text", "doc_id").get.count())
    time("boilerplate-strip")(graft.operators.Segments.stripBoilerplate(
      withLines(docs), "text", "doc_id", minDocs = 50L * mult).get.count())
    time("lm-score-unigram")(graft.operators.LmScore.unigramScores(
      docs, "text", "doc_id").get.count())
    time("lm-score-bigram")(graft.operators.LmScore.bigramScores(
      docs, "text", "doc_id").get.count())
    time("sq-knn-shortlist")(graft.operators.Quantize.sqKnn(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
      k = 5, shortlistK = 50).get.count())
    time("span-dedup")(graft.operators.Segments.spanDedup(
      docs, "text", "doc_id", n = 8).get.count())
    // codebook cells are THE quadratic knob: 20k·mult vectors / 32 cells
    // must stay under maxCluster or cells silently skip pairing
    time("semantic-dedup")(graft.operators.Dedup.semanticDedup(
      emb, "embedding", "vec_id", nClusters = 32, threshold = 0.25).get
      .filter(col("kept")).count())
    // the prob tables stay 4096 rows no matter the corpus size — only
    // the per-doc re-aggregate should grow with mult
    time("dsir-weights")(graft.operators.Dsir.logWeights(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "text", "doc_id", nBuckets = 4096).get.count())
    // index build dominates; the 5-query broadcast match must not rescan
    // the corpus per query
    time("bm25-search")(graft.operators.TfIdf.bm25Search(
      docs, docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), substring(col("text"), 1, 80).as("qt")),
      "text", "doc_id", "qt", "qid", k = 5).get.count())
    // round-4: all 9 gram orders in one tagged explode — the gram volume
    // is ~9x the token count, the heaviest linear-in-corpus text pass
    time("gopher-repetition")(graft.operators.Quality.gopherRepetitionFlags(
      withParagraphs(docs), "text", "doc_id").get.count())
    // binary codes: packing is map-side; the Hamming scan touches two
    // BIGINTs per (query, vector) pair
    time("bin-knn")(graft.operators.Quantize.binKnn(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
      k = 5, shortlistK = 50).get.count())
    // round-8 session: PQ ADC scan (codes ~dim/m x smaller than floats;
    // per-candidate cost is m array reads) and the MMR greedy over a
    // bounded per-query shortlist
    time("pq-knn")(graft.operators.Quantize.pqKnn(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
      k = 5, m = 8, cells = 16, shortlistK = 50).get.count())
    time("mmr-select")(graft.operators.Similarity.mmrSelect(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
      k = 10, lambda = 0.5, shortlist = 100).get.count())
    // measured-recall audit: the O(m²) truth brute force over a ~2%
    // sample of the replicated corpus — the audit-job cost shape
    time("pair-recall")(graft.operators.Dedup.pairRecallEstimate(
      docs, "text", "doc_id",
      graft.operators.Dedup.minhashPairs(docs, "text", "doc_id",
        threshold = 0.5).get,
      threshold = 0.5, sampleFraction = 0.02).get.count())

    // round-5 multimodal near-dup: real codec work (PNG encode+decode,
    // per-frame FFT) per row is the dominant linear cost; the pair joins
    // shuffle only slim (id, band/frame, bucket/bin) rows. Noise images
    // (uniform dHashes) + planted sibling pairs (2k = clone seed, 2k+1 =
    // one-pixel tweak → ≤ 1 dHash bit) — the realistic diverse-corpus +
    // near-dup shape. (A gradient-only fixture is ADVERSARIAL here:
    // gradient dHashes cluster within a few bits and 50k of them emit
    // ~61M "near-dup" pairs — pair volume is corpus-similarity-bound,
    // not operator-bound, exactly like clone-heavy text corpora.)
    val noisePng = udf((id: Long) =>
      graft.operators.Multimodal.MediaSynth.noisePngBytes(
        9, 8, id / 2, tweak = if (id % 2 == 1) 7 else 0))
    val docsImg = docs.select(col("doc_id"), noisePng(col("doc_id")).as("img"))
    var imagePairs: DataFrame = null
    time("image-neardup") {
      imagePairs = graft.operators.Multimodal.imageNearDupPairs(
        docsImg, "img", "doc_id", maxHamming = 6, maxBucket = 10000).get.cache()
      imagePairs.count()
    }
    // count the planted siblings NOW, while the pairs are cached (the
    // video section clears the session cache to isolate its own
    // release invariant); the checks stay in the invariant section
    val imgPlantedFound = imagePairs
      .filter(col("idB") === col("idA") + 1 && pmod(col("idA"), lit(2)) === 0)
      .count()
    imagePairs.unpersist()
    // planted audio siblings: docs (2k, 2k+1) share splitmix-drawn cycles
    // on frames 1-3 and differ on frame 0 → every even doc pairs with its
    // successor at exactly >= 3 matching frames (recall invariant below);
    // splitmix keeps unrelated clips' frame matches at random-collision
    // rates, so the bucket join stays slim
    val sibWav = udf((id: Long) => {
      val g = id / 2
      val cs = Array.tabulate(4)(f =>
        1 + math.floorMod(graft.functions.VecOps.splitmix64(g * 4 + f), 120L).toInt)
      if (id % 2 == 1) cs(0) += 1
      graft.operators.Multimodal.MediaSynth.frameSineWavBytes(8000, 256, cs.toSeq, 12000)
    })
    val docsAud = docs.select(col("doc_id"), sibWav(col("doc_id")).as("aud"))
    var audioPairs: DataFrame = null
    time("audio-neardup") {
      // bandWidth 2 = the scale knob: (nFft/2)² key space instead of
      // nFft/2, ~bucket-occupancy× fewer candidate pairs, recall intact
      // for 3-of-4 agreement by pigeonhole
      audioPairs = graft.operators.Multimodal.audioNearDupPairs(
        docsAud, "aud", "doc_id", nFft = 256, minMatches = 3,
        maxBucket = 10000, bandWidth = 2).get.cache()
      audioPairs.count()
    }
    val plantedFound = audioPairs
      .filter(col("idB") === col("idA") + 1 && pmod(col("idA"), lit(2)) === 0)
      .count()
    audioPairs.unpersist()

    // round-7 video family at scale: per-frame dHash sequences under the
    // audio banding skeleton. Sibling clips (2k, 2k+1) share noise frames
    // 1-3 and differ (≤ 1 dHash bit — possibly 0) on frame 0, so with
    // bandWidth = 2 the (frames 2,3) band is shared INTACT → every
    // planted pair must surface with n_matches >= 3 (pigeonhole at exact
    // frame equality). materialize = true exercises the round-8 release
    // path: the slim fingerprint frame must not stay pinned.
    // isolate the cache-release invariant below: earlier sections'
    // documented lazy persists (pair-level ops) would otherwise mask
    // whether the VIDEO path released its own frame
    spark.catalog.clearCache()
    val sibClip = udf((id: Long) => {
      val g = id / 2
      graft.operators.Multimodal.MediaSynth.framesContainer((0 until 4).map { f =>
        graft.operators.Multimodal.MediaSynth.noisePngBytes(
          9, 8, g * 4 + f, tweak = if (f == 0 && id % 2 == 1) 7 else 0)
      })
    })
    val docsVid = docs.select(col("doc_id"), sibClip(col("doc_id")).as("vid"))
    var videoPairs: DataFrame = null
    time("video-neardup") {
      videoPairs = graft.operators.Multimodal.videoNearDupPairs(
        docsVid, "vid", "doc_id", minMatches = 3, maxBucket = 10000,
        bandWidth = 2, materialize = true).get
      videoPairs.count()
    }

    // incremental media dedup at scale (round-7 *DedupAgainst): batch =
    // frame-0-retweaked siblings of the first `batchN` reference clips
    // (3-of-4 agreement → must be DROPPED) interleaved with novel clips
    // drawn from a disjoint seed space (zero aligned-frame agreement →
    // must SURVIVE). The kept set must be exactly the novel slots — a
    // cap/banding/alignment bug shows up as a wrong partition, not a
    // silent recall dip.
    val batchN = math.min(2000L, nDocs)
    val batchClip = udf((id: Long) => {
      val frames =
        if (id % 5 == 0)
          (0 until 4).map(f => graft.operators.Multimodal.MediaSynth.noisePngBytes(
            9, 8, (1L << 40) + id * 4 + f))
        else {
          val g = id / 2
          (0 until 4).map(f => graft.operators.Multimodal.MediaSynth.noisePngBytes(
            9, 8, g * 4 + f, tweak = if (f == 0) 13 else 0))
        }
      graft.operators.Multimodal.MediaSynth.framesContainer(frames)
    })
    val batchVid = spark.range(batchN)
      .select(col("id").as("doc_id"), batchClip(col("id")).as("vid"))
    var vidAgainstKept: DataFrame = null
    time("video-dedup-against") {
      vidAgainstKept = graft.operators.Multimodal.videoDedupAgainst(
        batchVid, docsVid, "vid", "doc_id", minMatches = 3,
        maxBucket = 10000, bandWidth = 2).get.select("doc_id").localCheckpoint(true)
      vidAgainstKept.count()
    }

    // round-8 session: behavioral analytics + graph family. Replication
    // law: replicas get DISJOINT user/node id spaces with identical
    // structure, so every count scales by exactly mult and every
    // fixed-point rank is replica-identical — exact-integer invariants,
    // not tolerance checks.
    val evBase = graft.SparkEntry.events(spark, dir)
    val evRepl = replicate(evBase, Seq("event_id", "user_id"))
    def funnelUsers(d: DataFrame): Seq[Long] =
      graft.operators.Behavior.funnel(d, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"), windowSec = 259200L).get
        .orderBy("step_idx").select("users").collect().map(_.getLong(0)).toSeq
    var funnelRepl: Seq[Long] = null
    time("funnel")({ funnelRepl = funnelUsers(evRepl); funnelRepl.sum })
    def cohortMap(d: DataFrame): Map[(Long, Int), Long] =
      graft.operators.Behavior.cohortRetention(d, "ts", "user_id",
        bucketSec = 86400L).get
        .select(col("cohort_ts").cast("long"), col("offset"), col("active"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    var cohortRepl: Map[(Long, Int), Long] = null
    time("cohort-retention")({ cohortRepl = cohortMap(evRepl); cohortRepl.size.toLong })
    def transMap(d: DataFrame): Map[(String, String), Long] =
      graft.operators.Behavior.transitionMatrix(d, "ts", "event_id",
        "user_id", "event_type").get
        .select("prev_type", "type", "n")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    var transRepl: Map[(String, String), Long] = null
    time("transitions")({ transRepl = transMap(evRepl); transRepl.size.toLong })

    // graph fixtures: mult disjoint copies of the sf0.1 part↔supplier
    // bipartite graph (ids shifted per replica, parity namespacing
    // preserved)
    val liBase = spark.read.parquet(s"$dir/lineitem.parquet")
    def membership(m: Int): DataFrame = (0 until m).map { i =>
      liBase.select((col("l_suppkey") + i.toLong * 100000000L).as("s"),
        (col("l_partkey") + i.toLong * 100000000L).as("p"))
    }.reduce(_ union _)
    def prEdges(memb: DataFrame): DataFrame = {
      val fwd = memb.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    }
    val membRepl = membership(mult).localCheckpoint(true)
    var prRepl: DataFrame = null
    time("pagerank") {
      prRepl = graft.operators.Graph.pageRank(prEdges(membRepl), "src", "dst",
        iterations = 3, scale = 1000000000L).get
      prRepl.count()
    }
    // HITS scale bounded by M² < Long.Max: 210k nodes → scale 10000
    var hitsRepl: DataFrame = null
    time("hits") {
      hitsRepl = graft.operators.Graph.hits(
        membRepl.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst")),
        "src", "dst", iterations = 2, scale = 10000L).get
      hitsRepl.count()
    }
    // threshold from the BASE shared-count distribution so the projected
    // graph stays non-trivial at any sf (replicas inherit it identically)
    val basePairs = graft.operators.Graph.projectBipartite(
      membership(1), "s", "p", minShared = 1L).get.localCheckpoint(true)
    val minShared = basePairs.stat.approxQuantile("shared", Array(0.95), 0.001)(0).toLong
    val baseGraph = basePairs.filter(col("shared") >= minShared).localCheckpoint(true)
    var triRepl: DataFrame = null
    time("triangle-count") {
      triRepl = graft.operators.Graph.triangleCount(
        graft.operators.Graph.projectBipartite(membRepl, "s", "p",
          minShared = minShared).get, "src", "dst").get
      triRepl.count()
    }
    var compRepl: DataFrame = null
    time("graph-components") {
      compRepl = graft.operators.Graph.connectedComponents(
        graft.operators.Graph.projectBipartite(membRepl, "s", "p",
          minShared = minShared).get, "src", "dst").get.localCheckpoint(true)
      compRepl.count()
    }

    // round-8 session: statistical tests + attribution + BFS. The exact
    // invariants exploit IEEE division: equal real quotients round to
    // IDENTICAL doubles, so KS distances and Welch means are exactly
    // replication-invariant ((10·s)/(10·n) = s/n bit-for-bit).
    // ×100 integral scaling (the q204 gate convention): bit-identity
    // of the replicated means NEEDS exact sums — raw 2-decimal doubles
    // sum with order-dependent ulps and the invariant would be noise
    def welchRow(d: DataFrame) =
      graft.operators.Stats.welchTTest(
        d.withColumn("value", round(col("value") * 100)),
        "value", "event_type", "click", "view").get.collect().head
    var welchRepl: org.apache.spark.sql.Row = null
    time("welch-ttest")({ welchRepl = welchRow(evRepl); 1L })
    def ksD(d: DataFrame): Double =
      graft.operators.Stats.ksTest(d, "value", "event_type",
        "click", "view").get.collect().head.getAs[Double]("d")
    var ksRepl = 0.0
    time("ks-test")({ ksRepl = ksD(evRepl); 1L })
    def attribCounts(d: DataFrame): Map[String, Long] =
      graft.operators.Behavior.attribution(d, "ts", "event_id", "user_id",
        "event_type", "purchase", Seq("click", "view"), 259200L).get
        .groupBy("touch_type").count()
        .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    var attribRepl: Map[String, Long] = null
    time("attribution")({ attribRepl = attribCounts(evRepl); attribRepl.values.sum })
    def bfsHist(memb: DataFrame): Map[Int, Long] = {
      val fwd = memb.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      val seeds = memb.filter(pmod(col("s"), lit(100000000L)) <= 3)
        .select((col("s") * 2 + 1).as("node"))
      graft.operators.Graph.bfsDepths(
          fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))),
          "src", "dst", seeds, "node", maxDepth = 4).get
        .groupBy("depth").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    var bfsRepl: Map[Int, Long] = null
    time("bfs-depths")({ bfsRepl = bfsHist(membRepl); bfsRepl.values.sum })
    // CUSUM/trend scaling laws: replicated users add rows to the SAME
    // per-type grid, so hourly sums scale by exactly mult — and because
    // every recursion step is linear-with-max over exact integers,
    // cusum(mult·v; mult·T, mult·k) = mult·cusum(v; T, k) bit-for-bit,
    // and the slope of a ×mult series is ×mult exactly
    def hourly(d: DataFrame): DataFrame = graft.operators.TimeSeries.gapFill(
      d.withColumn("value", round(col("value") * 100)),
      "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
      how = "sum", fill = "zero").get
    def cusumMap(d: DataFrame, t: Double, k: Double): Map[(String, Long), (Double, Double)] =
      graft.operators.TimeSeries.cusum(hourly(d), "bucket_ts",
        Seq("event_type"), "value", target = t, slack = k).get
        .select(col("event_type"), col("bucket_ts").cast("long"),
          col("cusum_hi"), col("cusum_lo"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
    var cusumRepl: Map[(String, Long), (Double, Double)] = null
    time("cusum")({
      cusumRepl = cusumMap(evRepl, 35000.0 * mult, 5000.0 * mult)
      cusumRepl.size.toLong
    })
    def trendMap(d: DataFrame): Map[String, (Option[Double], Option[Double])] =
      graft.operators.TimeSeries.trend(hourly(d), "bucket_ts",
        Seq("event_type"), "value").get
        .collect().map(r => r.getString(0) ->
          ((Option(r.getAs[java.lang.Double]("slope")).map(_.doubleValue),
            Option(r.getAs[java.lang.Double]("intercept")).map(_.doubleValue)))).toMap
    var trendRepl: Map[String, (Option[Double], Option[Double])] = null
    time("trend")({ trendRepl = trendMap(evRepl); trendRepl.size.toLong })

    // round-9 session: capped projection under a VIRAL right key,
    // k-core convergence at scale, modularity/assortativity laws.
    // Viral key: per replica, one synthetic part stocked by every
    // supplier with local id < 1000 — ~10^3 members, ~5·10^5 pairs per
    // replica if paired; the cap (set to the natural max right degree,
    // so every organic key survives) must drop it BEFORE pairing.
    val natMaxDeg = membership(1).distinct()
      .groupBy("p").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    val viralMemb = membRepl.union(
        membRepl.filter(pmod(col("s"), lit(100000000L)) < 1000L)
          .select(col("s"),
            (expr("s div 100000000") * 100000000L + 99999999L).as("p"))
          .distinct())
      .localCheckpoint(true)
    var projCapped: DataFrame = null
    time("bipartite-projection-capped") {
      projCapped = graft.operators.Graph.projectBipartite(viralMemb, "s", "p",
        minShared = 1L, maxRightDegree = natMaxDeg).get.localCheckpoint(true)
      projCapped.count()
    }
    // the replicated thresholded co-occurrence graph (the triangle /
    // components fixture), shared by the round-9 ops below
    val projRepl = graft.operators.Graph.projectBipartite(membRepl, "s", "p",
      minShared = minShared).get.localCheckpoint(true)
    var coreRepl: DataFrame = null
    var coreConverged = false
    time("kcore") {
      val r = graft.operators.Graph.kCore(projRepl, "src", "dst", k = 2L)
      coreConverged = r.isInstanceOf[graft.functional.Ok[_]]
      coreRepl = r.get.localCheckpoint(true)
      coreRepl.count()
    }
    var modRepl: org.apache.spark.sql.Row = null
    time("modularity") {
      modRepl = graft.operators.Graph.modularity(projRepl, "src", "dst",
        compRepl, "node", "component").get.head()
      1L
    }
    var assortRepl: org.apache.spark.sql.Row = null
    time("assortativity") {
      assortRepl = graft.operators.Graph.assortativity(projRepl, "src", "dst")
        .get.head()
      1L
    }
    // round-9 session-2: link prediction (capped), label propagation,
    // Kaplan–Meier, exact percentiles — each with an exact law below
    def lpEdges(memb: DataFrame): DataFrame =
      memb.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
    var linkRepl: DataFrame = null
    time("link-predict") {
      linkRepl = graft.operators.Graph.linkPredict(lpEdges(membRepl),
        "src", "dst", minCommon = 2L, maxDegree = 50L).get
        .localCheckpoint(true)
      linkRepl.count()
    }
    def lpSeeds(memb: DataFrame): DataFrame =
      memb.filter(pmod(col("s"), lit(100000000L)) <= 10L)
        .select((col("s") * 2 + 1).as("node"),
          // label from the LOCAL id so every replica gets the same
          // seed labeling (s itself shifts by i·10⁸ per replica)
          pmod(pmod(col("s"), lit(100000000L)), lit(3L)).cast("string")
            .as("lab"))
        .distinct()
    var propRepl: DataFrame = null
    time("label-propagation") {
      propRepl = graft.operators.Graph.labelPropagate(lpEdges(membRepl),
        "src", "dst", lpSeeds(membRepl), "node", "lab", maxRounds = 3).get
      propRepl.count()
    }
    def kmCurve(d: DataFrame): DataFrame = {
      val hour = floor(col("ts").cast("long") / 3600L).cast("long")
      val per = d.filter(col("ts").isNotNull)
        .select(col("user_id"), hour.as("__h"))
        .groupBy("user_id")
        .agg(min(col("__h")).as("__f"), max(col("__h")).as("__l"))
      val mx = per.agg(max(col("__l")).as("__m"))
      graft.operators.Behavior.kaplanMeier(
        per.crossJoin(broadcast(mx))
          .select((col("__l") - col("__f")).as("duration"),
            (col("__l") < col("__m") - 24).cast("int").as("observed")),
        "duration", "observed").get
    }
    var kmRepl: Map[Long, (Long, Double)] = null
    time("kaplan-meier") {
      kmRepl = kmCurve(evRepl)
        .select(col("duration"), col("n_risk"), col("survival"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      kmRepl.size.toLong
    }
    var pctRepl: Map[Double, (Long, Double)] = null
    time("percentiles") {
      pctRepl = graft.operators.Quality.percentiles(
          evRepl.withColumn("value", round(col("value") * 100)),
          "value", Seq(0.25, 0.5, 0.9, 0.99)).get
        .collect().map(r => r.getDouble(0) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
      pctRepl.size.toLong
    }

    // round-9 session-3: Markov attribution, rule-based credits,
    // weighted SSSP, decontamination — laws below
    def markovMap(d: DataFrame): Map[String, (Double, Double, Option[Double])] =
      graft.operators.Behavior.markovAttribution(d, "ts", "event_id",
          "user_id", "event_type", "purchase", iterations = 20).get
        .collect().map(r => r.getString(0) ->
          ((r.getDouble(1), r.getDouble(2),
            Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    var markovRepl: Map[String, (Double, Double, Option[Double])] = null
    time("markov-attribution")({ markovRepl = markovMap(evRepl); markovRepl.size.toLong })
    def creditMap(d: DataFrame): Map[String, (Long, Long, Double)] =
      graft.operators.Behavior.attributionCredits(d, "ts", "event_id",
          "user_id", "event_type", "purchase",
          Seq("view", "click", "signup"), windowSec = 604800L,
          model = "position").get
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    var creditRepl: Map[String, (Long, Long, Double)] = null
    time("attribution-credits")({ creditRepl = creditMap(evRepl); creditRepl.size.toLong })
    // weighted SSSP over the bipartite graph: deterministic local-id
    // weights so every replica carries the identical weighted topology
    def ssspDist(memb: DataFrame): DataFrame = {
      val pe = memb.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"),
        (pmod(pmod(col("p"), lit(100000000L)), lit(7L)) + 1).cast("double").as("w"))
      val und = pe.unionByName(pe.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      val seeds = memb.filter(pmod(col("s"), lit(100000000L)) <= 5L)
        .select((col("s") * 2 + 1).as("node")).distinct()
      graft.operators.Graph.ssspWeighted(und, "src", "dst", "w",
        seeds, "node", maxRounds = 6).get
    }
    var ssspRepl: DataFrame = null
    time("sssp-weighted") {
      ssspRepl = ssspDist(membRepl).localCheckpoint(true)
      ssspRepl.count()
    }
    def contamFrame(d: DataFrame): DataFrame =
      graft.operators.Dedup.contaminationScreen(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", n = 5).get
    var contamRepl: DataFrame = null
    time("contamination") {
      contamRepl = contamFrame(docs).localCheckpoint(true)
      contamRepl.count()
    }

    // ---- cap observability (round-5): the LSH bucket caps and the kNN
    // shortlist cap are necessary guards but silent recall knobs — log
    // their counters with every rehearsal so a boilerplate-heavy corpus
    // shows its dropped buckets here, not in a production surprise.
    def logReport(name: String, df: DataFrame): Unit = {
      val cols = df.columns
      df.collect().foreach { r =>
        println(s"[rehearsal] cap-report $name: " +
          cols.map(c => s"$c=${r.getAs[Any](c)}").mkString(" "))
      }
    }
    logReport("minhash", graft.operators.Dedup.minhashCapReport(
      docs, "text", "doc_id").get)
    logReport("embedding-auto", graft.operators.Dedup.embeddingCapReport(
      emb, "embedding", "vec_id", nBits = 0, tables = 8).get)
    logReport("bin-knn-shortlist", graft.operators.Quantize.shortlistReport(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id", shortlistK = 50)
      .get.agg(count(lit(1)).as("n_queries"),
        sum("n_truncated").as("total_truncated"),
        max("n_truncated").as("max_truncated")))

    // ---- standing invariants (assertions, not just timings) ----------

    // Exact-dedup-FIRST ordering (Dedup.dedupPipeline scaladoc): a corpus
    // with c-fold exact duplication inflates LSH candidate-pair volume
    // ~c² (every clone lands in every matching bucket), while running
    // exactNormalized first restores the pair count of the BASE corpus's
    // own representatives EXACTLY (replication picks the same min-id reps
    // as the base — note the base corpus already contains a few exact
    // duplicates, so the reference point is its rep set, not itself).
    // Locks the measured claim behind the pipeline ordering.
    val base = spark.read.parquet(s"$dir/documents.parquet")
    val pairsBaseReps = graft.operators.Dedup.minhashPairs(
      graft.operators.Dedup.exactNormalized(base, "text", "doc_id").get,
      "text", "doc_id", threshold = 0.5).get.count()
    val pairsDeduped = graft.operators.Dedup.minhashPairs(
      graft.operators.Dedup.exactNormalized(docs, "text", "doc_id").get,
      "text", "doc_id", threshold = 0.5).get.count()
    val pairsRaw = graft.operators.Dedup.minhashPairs(
      docs, "text", "doc_id", threshold = 0.5).get.count()
    println(s"[rehearsal] pair volume: baseReps=$pairsBaseReps dedupedFirst=$pairsDeduped raw=$pairsRaw")
    check("exact_first_pair_volume", pairsDeduped == pairsBaseReps,
      s"exact-dedup-first must restore the base reps' pair volume: " +
        s"$pairsDeduped != $pairsBaseReps")
    val expectedBlowup = mult.toLong * mult * pairsBaseReps / 4
    check("raw_pair_blowup", mult < 2 || pairsRaw > math.max(pairsDeduped * mult, expectedBlowup),
      s"expected ~mult² pair blowup without exact dedup, got raw=$pairsRaw " +
        s"vs deduped=$pairsDeduped (mult=$mult)")

    // CMS top-k completeness at scale: the ε-bounded shortlist + exact
    // recount must reproduce the exact heavy hitters.
    val cms = graft.operators.Sketch.countMinTopK(li, "l_partkey", k = 10)
      .get.select("l_partkey").collect().map(_.getLong(0)).toSet
    val exactTop = li.groupBy("l_partkey").count()
      .orderBy(col("count").desc, col("l_partkey")).limit(10)
      .select("l_partkey").collect().map(_.getLong(0)).toSet
    check("cms_topk_exact", cms == exactTop,
      s"CMS top-10 diverged from exact: $cms vs $exactTop")

    // Segment keep-first under replication: replicas introduce no new
    // distinct paragraphs (same texts; head/footer indices stay inside
    // their mod-3/mod-7 sets), so the kept-segment total — one per
    // distinct segment corpus-wide — must equal the base corpus's.
    def keptTotal(d: DataFrame): Long =
      graft.operators.Segments.segmentDedup(withParagraphs(d), "text", "doc_id")
        .get.agg(sum("n_kept")).head().getLong(0)
    val keptBase = keptTotal(base)
    val keptRepl = keptTotal(docs)
    check("segment_keep_first", keptRepl == keptBase,
      s"paragraph dedup must keep exactly the base's distinct segments under " +
        s"replication: $keptRepl != $keptBase")

    // Boilerplate stability: every line's doc-frequency scales by mult
    // exactly, so detection at (minDocs x mult) on the replicated corpus
    // must flag the same normalized lines as minDocs on the base.
    def bpSet(d: DataFrame, m: Long): Set[String] =
      graft.operators.Segments.boilerplate(withLines(d), "text", "doc_id", minDocs = m)
        .get.select("segment").collect().map(_.getString(0)).toSet
    val bpBase = bpSet(base, 50L)
    val bpRepl = bpSet(docs, 50L * mult)
    check("boilerplate_stability", bpBase == bpRepl,
      s"boilerplate set must be replication-stable: base=${bpBase.size} repl=${bpRepl.size}")

    // Span-dedup replication law: replicas share every text, so replica
    // 0 (the minimal ids) keeps exactly what the base corpus keeps, and
    // every later replica of a doc with ≥ n tokens is fully covered by
    // duplicated grams and wiped. Exact expectation:
    // dropped(repl) = dropped(base) + (mult−1) · Σ_{base docs, n_tokens ≥ n} n_tokens.
    val spanBase = graft.operators.Segments.spanDedup(base, "text", "doc_id", n = 8).get
      .agg(sum("n_dropped"),
        sum(when(col("n_tokens") >= 8, col("n_tokens")).otherwise(0L))).head()
    val spanReplDropped = graft.operators.Segments.spanDedup(docs, "text", "doc_id", n = 8).get
      .agg(sum("n_dropped")).head().getLong(0)
    val spanExpected = spanBase.getLong(0) + (mult - 1).toLong * spanBase.getLong(1)
    check("span_dedup_replication", spanReplDropped == spanExpected,
      s"span dedup must wipe exactly the replicas' covered tokens: " +
        s"$spanReplDropped != $spanExpected")

    // Semantic-dedup replication law: a replica is the SAME vector under a
    // larger id, so it lands in its original's codebook cell and the min-id
    // policy drops it (cosine 1 ≥ threshold); replica-0 members keep their
    // exact neighbor structure (new neighbors all have larger ids). The
    // kept set of the replicated corpus is therefore exactly the base's.
    val embBase = spark.read.parquet(s"$dir/embeddings.parquet")
    def semKept(d: DataFrame): Long = graft.operators.Dedup.semanticDedup(
      d, "embedding", "vec_id", nClusters = 32, threshold = 0.25).get
      .filter(col("kept")).count()
    val semBase = semKept(embBase)
    val semRepl = semKept(emb)
    check("semantic_dedup_replication", semRepl == semBase,
      s"semantic dedup must keep exactly the base corpus under replication: " +
        s"$semRepl != $semBase")

    // planted image recall: every (2k, 2k+1) one-pixel-tweak pair is
    // within 1 dHash bit, so the banded join must surface ALL of them
    // (count computed up at the timing site, while the pairs were cached)
    val imgPlantedExpected = nDocs / 2
    check("image_planted_recall", imgPlantedFound == imgPlantedExpected,
      s"image near-dup must recall every planted sibling pair: " +
        s"$imgPlantedFound != $imgPlantedExpected")

    // planted audio recall: every (2k, 2k+1) sibling pair agrees on
    // exactly frames 1-3, so the fingerprint join must surface ALL of
    // them — a dropped bucket or a broken frame alignment shows up as a
    // missing planted pair, not as a silent recall dip
    val plantedExpected = nDocs / 2
    check("audio_planted_recall", plantedFound == plantedExpected,
      s"audio near-dup must recall every planted sibling pair: " +
        s"$plantedFound != $plantedExpected")

    // planted video recall: every (2k, 2k+1) sibling pair shares frames
    // 1-3, so the 2-frame band join must surface ALL of them
    val vidPlantedFound = videoPairs
      .filter(col("idB") === col("idA") + 1 && pmod(col("idA"), lit(2)) === 0)
      .count()
    check("video_planted_recall", vidPlantedFound == nDocs / 2,
      s"video near-dup must recall every planted sibling pair: " +
        s"$vidPlantedFound != ${nDocs / 2}")
    // the materialize = true pair op must have released its pinned slim
    // fingerprint frame (the round-8 cache-release contract at scale)
    check("video_pairs_cache_released", spark.sharedState.cacheManager.isEmpty,
      "videoNearDupPairs(materialize = true) left a cache entry pinned")

    // incremental video dedup partition: kept == exactly the novel slots
    val keptIds = vidAgainstKept
    val keptCnt = keptIds.count()
    val keptNovel = keptIds.filter(pmod(col("doc_id"), lit(5)) === 0).count()
    val expectedNovel = (0L until batchN).count(_ % 5 == 0).toLong
    check("video_dedup_against_partition",
      keptCnt == expectedNovel && keptNovel == keptCnt,
      s"videoDedupAgainst must keep exactly the novel clips: kept=$keptCnt " +
        s"(novel-of-kept=$keptNovel) expected=$expectedNovel")

    // PQ exhaustive-shortlist law at scale: when the shortlist covers the
    // corpus the exact rerank sees every candidate, so ADC kNN must equal
    // exact brute force on the REPLICATED corpus (ties included — both
    // paths break ties by neighborId)
    val nEmb = emb.count()
    val pqExh = graft.operators.Quantize.pqKnn(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
      k = 5, m = 8, cells = 16, shortlistK = (nEmb + 1).toInt).get
      .select("queryId", "neighborId", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bfExh = graft.operators.Similarity.bruteForceKnn(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5).get
      .select("queryId", "neighborId", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    check("pq_exhaustive_exact", pqExh == bfExh,
      s"exhaustive-shortlist PQ kNN must equal exact top-k: ${pqExh.size} vs ${bfExh.size}")

    // MMR anti-redundancy at scale: the replicated corpus guarantees
    // exact clones of every top-relevance vector (including the query's
    // own replicas, rel = 1) inside the shortlist. At λ ≥ 0.5 a clone of
    // a selected rel≈1 item scores 2λ−1 ≥ 0 and legally outscores
    // mildly-relevant diverse candidates — the first run of this
    // invariant at λ=0.5 caught exactly that (now documented on the
    // operator). Below 0.5 the clone penalty strictly dominates: at
    // λ=0.25 a clone scores −0.5 while any distinct near-orthogonal
    // candidate stays above −0.4 — so NO two selected items may be
    // near-identical.
    val mmrSel = graft.operators.Similarity.mmrSelect(
      emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
      k = 10, lambda = 0.25, shortlist = 100).get
      .select(col("queryId"), col("candId"))
    val selVec = mmrSel.join(emb.select(col("vec_id").as("candId"),
      col("embedding")), Seq("candId"))
    val redundant = selVec.as("a").join(selVec.as("b"),
        col("a.queryId") === col("b.queryId") &&
        col("a.candId") < col("b.candId"))
      .filter(graft.functions.VectorFunctions.vecCosine(
        col("a.embedding"), col("b.embedding")) > 0.99)
      .count()
    check("mmr_no_redundant_selection", redundant == 0,
      s"MMR selected $redundant near-identical pairs despite clones in every shortlist")

    // Measured-recall laws at scale: the uncapped generator scores
    // exactly 1.0 on the sampled truth (clone pairs sit at Jaccard 1
    // where banding recall is certain), and the even-idA handicap is
    // MEASURED as a strict loss, not rounded away
    val fullPairs = graft.operators.Dedup.minhashPairs(
      docs, "text", "doc_id", threshold = 0.5).get
    val rFull = graft.operators.Dedup.pairRecallEstimate(
      docs, "text", "doc_id", fullPairs,
      threshold = 0.5, sampleFraction = 0.02).get.head()
    // (a mult=1 smoke run may sample zero true pairs — the strict forms
    // need the replicated corpus's clone pairs, same guard as
    // raw_pair_blowup)
    check("pair_recall_uncapped_one",
      mult < 2 ||
        (rFull.getAs[Long]("true_pairs") > 0 && rFull.getAs[Double]("recall") == 1.0),
      s"uncapped minhash must recall every sampled truth pair: $rFull")
    val rHandicap = graft.operators.Dedup.pairRecallEstimate(
      docs, "text", "doc_id", fullPairs.filter(pmod(col("idA"), lit(2)) === 0),
      threshold = 0.5, sampleFraction = 0.02).get.head()
    check("pair_recall_measures_loss",
      mult < 2 ||
        rHandicap.getAs[Long]("recalled_pairs") < rHandicap.getAs[Long]("true_pairs"),
      s"the even-idA handicap must register as measured recall loss: $rHandicap")

    // behavior replication laws: replicas are disjoint users with
    // identical event structure, so every count scales by exactly mult
    val funnelBase = funnelUsers(evBase)
    check("funnel_replication_law", funnelRepl == funnelBase.map(_ * mult),
      s"funnel user counts must scale by exactly mult: $funnelRepl vs $funnelBase x $mult")
    val cohortBase = cohortMap(evBase)
    check("cohort_replication_law",
      cohortRepl == cohortBase.map { case (k, v) => k -> v * mult },
      s"cohort actives must scale by exactly mult: cells base=${cohortBase.size} " +
        s"repl=${cohortRepl.size}")
    val transBase = transMap(evBase)
    check("transition_replication_law",
      transRepl == transBase.map { case (k, v) => k -> v * mult },
      s"transition counts must scale by exactly mult: ${transRepl.size} cells")
    // fixed-point PageRank determinism at scale: replica-0 ranks must be
    // bit-identical to a separate base-graph run (different job, different
    // partition layout — the exact-integer claim, measured)
    val prBase = graft.operators.Graph.pageRank(prEdges(membership(1)),
      "src", "dst", iterations = 3, scale = 1000000000L).get
    val prDiff = prBase.select(col("node"), col("rank").as("rb"))
      .join(prRepl.filter(col("node") < 200000000L)
        .select(col("node"), col("rank").as("rr")), Seq("node"), "full")
      .filter(col("rb").isNull || col("rr").isNull || col("rb") =!= col("rr"))
      .count()
    check("pagerank_replica_identical", prDiff == 0,
      s"replica-0 PageRank must be bit-identical to the base run: $prDiff differing nodes")
    // HITS replica identity is exact at the SAME scale: raw sums are
    // replica-local, and (raw·10M) // (10Σ) == (raw·M) // Σ for
    // positive integers — the renormalization cancels the 10×
    val hitsBase = graft.operators.Graph.hits(
      membership(1).select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst")),
      "src", "dst", iterations = 2, scale = 10000L).get
    val hitsDiff = hitsBase.select(col("node"), col("hub").as("hb"),
        col("authority").as("ab"))
      .join(hitsRepl.filter(col("node") < 200000000L)
        .select(col("node"), col("hub").as("hr"), col("authority").as("ar")),
        Seq("node"), "full")
      .filter(col("hb").isNull || col("hr").isNull ||
        col("hb") =!= col("hr") || col("ab") =!= col("ar"))
      .count()
    check("hits_replica_identical", hitsDiff == 0,
      s"replica-0 HITS must be bit-identical to the base run: $hitsDiff differing nodes")
    val triBaseTotal = graft.operators.Graph.triangleCount(baseGraph, "src", "dst")
      .get.agg(coalesce(sum("triangles"), lit(0L))).head().getLong(0)
    val triReplTotal = triRepl.agg(coalesce(sum("triangles"), lit(0L))).head().getLong(0)
    check("triangle_replication_law",
      triBaseTotal > 0 && triReplTotal == triBaseTotal * mult,
      s"per-node triangle total must scale by exactly mult: " +
        s"$triReplTotal != $triBaseTotal x $mult")
    val compBase = graft.operators.Graph.connectedComponents(baseGraph, "src", "dst")
      .get.localCheckpoint(true)
    val compBaseN = compBase.select("component").distinct().count()
    val compReplN = compRepl.select("component").distinct().count()
    check("components_replication_law", compReplN == compBaseN * mult,
      s"component count must scale by exactly mult: $compReplN != $compBaseN x $mult")

    // round-9 graph invariants ----------------------------------------
    // capped projection == uncapped projection WITHOUT the viral key:
    // the cap prunes candidate generation only, never scores — organic
    // pairs are untouched and the loss is exactly the injected key
    val projClean = graft.operators.Graph.projectBipartite(membRepl, "s", "p",
      minShared = 1L).get
    val projDiff = projCapped.select("src", "dst", "shared")
      .join(projClean.select(col("src"), col("dst"), col("shared").as("s2")),
        Seq("src", "dst"), "full")
      .filter(col("shared").isNull || col("s2").isNull ||
        col("shared") =!= col("s2"))
      .count()
    check("projection_cap_recall", projDiff == 0,
      s"capped viral projection must equal the organic projection: " +
        s"$projDiff differing pairs")
    val capRows = graft.operators.Graph.projectionCapReport(
      viralMemb, "s", "p", natMaxDeg).get.collect()
    check("projection_cap_report_exact",
      capRows.length == mult &&
        capRows.forall(r => r.getLong(0) % 100000000L == 99999999L),
      s"cap report must list exactly the $mult injected viral keys: " +
        capRows.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(","))
    // k-core: peeling must converge, and per-replica structure makes
    // both the survivor count and the in-core degree mass scale by mult
    check("kcore_converged", coreConverged,
      s"k-core peeling must converge at ${mult}x")
    val coreBase = graft.operators.Graph.kCore(baseGraph, "src", "dst", k = 2L).get
    val cb = coreBase.agg(count(lit(1)), coalesce(sum("core_degree"), lit(0L)))
      .head()
    val cr = coreRepl.agg(count(lit(1)), coalesce(sum("core_degree"), lit(0L)))
      .head()
    check("kcore_replication_law",
      cb.getLong(0) > 0 && cr.getLong(0) == cb.getLong(0) * mult &&
        cr.getLong(1) == cb.getLong(1) * mult,
      s"k-core survivors and degree mass must scale by exactly mult: " +
        s"(${cr.getLong(0)},${cr.getLong(1)}) vs (${cb.getLong(0)},${cb.getLong(1)}) x $mult")
    // modularity under component labels: every edge is intra-community,
    // so Q = 1 − Σ(d_c/2m)² and replication divides the degree term by
    // mult exactly: (1 − Q_repl) == (1 − Q_base)/mult (float-division
    // rounding differs between the two paths → relative tolerance)
    val modBase = graft.operators.Graph.modularity(baseGraph, "src", "dst",
      compBase, "node", "component").get.head()
    val qb = modBase.getAs[Double]("q")
    val qr = modRepl.getAs[Double]("q")
    check("modularity_replication_law",
      math.abs((1.0 - qr) - (1.0 - qb) / mult) <=
        1e-9 * math.max(math.abs(1.0 - qr), math.abs(1.0 - qb) / mult),
      s"component-labeled modularity must satisfy (1−Q') == (1−Q)/mult: " +
        s"q_repl=$qr q_base=$qb mult=$mult")
    // assortativity is replication-invariant: every degree moment
    // scales by exactly mult (integral sums), so r is the same real —
    // the two paths round differently only in final ulps
    val assortBase = graft.operators.Graph.assortativity(baseGraph, "src", "dst")
      .get.head()
    val rb = Option(assortBase.getAs[java.lang.Double]("r")).map(_.doubleValue)
    val rr = Option(assortRepl.getAs[java.lang.Double]("r")).map(_.doubleValue)
    check("assortativity_replication_invariant",
      (rb, rr) match {
        case (Some(x), Some(y)) =>
          math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
        case (None, None) => true
        case _ => false
      },
      s"assortativity must be replication-invariant: r_repl=$rr r_base=$rb")
    // round-9 session-2 invariants ------------------------------------
    // link prediction: replicas are disjoint, so the prediction set
    // scales by exactly mult and replica-0 predictions (ids < the
    // doubled shift) are identical to a base run
    val linkBase = graft.operators.Graph.linkPredict(lpEdges(membership(1)),
      "src", "dst", minCommon = 2L, maxDegree = 50L).get.localCheckpoint(true)
    val linkBaseN = linkBase.count()
    check("link_predict_replication_law",
      linkBaseN > 0 && linkRepl.count() == linkBaseN * mult,
      s"prediction count must scale by exactly mult: " +
        s"${linkRepl.count()} != $linkBaseN x $mult")
    val linkDiff = linkBase.select(col("src"), col("dst"), col("common"))
      .join(linkRepl.filter(col("src") < 200000000L)
          .select(col("src"), col("dst"), col("common").as("c2")),
        Seq("src", "dst"), "full")
      .filter(col("common").isNull || col("c2").isNull ||
        col("common") =!= col("c2"))
      .count()
    check("link_predict_replica_identical", linkDiff == 0,
      s"replica-0 predictions must match the base run: $linkDiff differ")
    // label propagation is id-independent (votes + label-string ties),
    // so each replica's local (node → label, rounds) mapping is
    // IDENTICAL to a base run — exact, not tolerance
    val propBase = graft.operators.Graph.labelPropagate(lpEdges(membership(1)),
      "src", "dst", lpSeeds(membership(1)), "node", "lab", maxRounds = 3).get
    val propDiff = propBase.select(col("node"), col("label"), col("rounds"))
      .join(propRepl.filter(col("node") < 200000000L)
          .select(col("node"), col("label").as("l2"), col("rounds").as("r2")),
        Seq("node"), "full")
      .filter(col("label").isNull || col("l2").isNull ||
        col("label") =!= col("l2") || col("rounds") =!= col("r2"))
      .count()
    check("label_propagation_replica_identical", propDiff == 0,
      s"replica-0 labels must match the base run: $propDiff differ")
    // Kaplan–Meier: replicated users keep the same duration grid; every
    // factor 1 − (mult·d)/(mult·n) rounds the SAME real as 1 − d/n, so
    // the survival curve is bit-identical and n_risk scales exactly
    val kmBase = kmCurve(evBase)
      .select(col("duration"), col("n_risk"), col("survival"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    check("kaplan_meier_replication_invariant",
      kmRepl.keySet == kmBase.keySet && kmBase.nonEmpty &&
        kmBase.forall { case (t, (n, s)) =>
          kmRepl(t)._1 == n * mult && kmRepl(t)._2 == s },
      s"KM curve must be bit-identical with mult-scaled risk sets: " +
        s"${kmRepl.size} vs ${kmBase.size} rows")
    // exact percentiles: the order statistic is a pure function of the
    // data — a differently-partitioned run of the SAME corpus must
    // agree bit-for-bit (⌈p·n⌉ itself is not linear in n, so the
    // cross-scale comparison is rank-for-rank, not a ×mult law)
    val pctShuffled = graft.operators.Quality.percentiles(
        evRepl.repartition(37).withColumn("value", round(col("value") * 100)),
        "value", Seq(0.25, 0.5, 0.9, 0.99)).get
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    check("percentiles_partition_invariant",
      pctRepl.nonEmpty && pctRepl == pctShuffled,
      s"percentiles must be partitioning-invariant: $pctRepl vs $pctShuffled")

    // stats/attribution/BFS replication laws
    val welchBase = welchRow(evBase)
    check("welch_mean_replication",
      welchRepl.getAs[Double]("mean_a") == welchBase.getAs[Double]("mean_a") &&
        welchRepl.getAs[Double]("mean_b") == welchBase.getAs[Double]("mean_b") &&
        welchRepl.getAs[Long]("n_a") == welchBase.getAs[Long]("n_a") * mult,
      s"Welch means must be bit-identical under replication: $welchRepl vs $welchBase")
    val ksBase = ksD(evBase)
    check("ks_replication_invariant", ksRepl == ksBase,
      s"KS distance must be bit-identical under replication: $ksRepl != $ksBase")
    val attribBase = attribCounts(evBase)
    check("attribution_replication_law",
      attribRepl == attribBase.map { case (k, v) => k -> v * mult },
      s"attributed-conversion counts must scale by exactly mult: " +
        s"$attribRepl vs $attribBase x $mult")
    val bfsBase = bfsHist(membership(1))
    check("bfs_replication_law",
      bfsRepl == bfsBase.map { case (k, v) => k -> v * mult },
      s"BFS depth histogram must scale by exactly mult: $bfsRepl vs $bfsBase x $mult")
    val cusumBase = cusumMap(evBase, 35000.0, 5000.0)
    check("cusum_scaling_law",
      cusumRepl == cusumBase.map { case (k, (h, l)) => k -> ((h * mult, l * mult)) },
      s"CUSUM with mult-scaled target/slack must be exactly mult x the base " +
        s"scores: ${cusumRepl.size} cells vs ${cusumBase.size}")
    // trend scales by mult only to relative tolerance: the moment
    // products (n·Σtv ≈ 1e17) exceed 2^53, so the ×mult and base paths
    // round DIFFERENT exact reals and can differ in final ulps — unlike
    // CUSUM, whose every step stays in exact-integer range
    val trendBase = trendMap(evBase)
    def relEq(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
      case (Some(x), Some(y)) =>
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case (None, None) => true
      case _ => false
    }
    check("trend_scaling_law",
      trendRepl.keySet == trendBase.keySet && trendRepl.forall { case (k, (s, i)) =>
        relEq(s, trendBase(k)._1.map(_ * mult)) &&
          relEq(i, trendBase(k)._2.map(_ * mult)) },
      s"trend of a mult-scaled series must scale slope/intercept by mult " +
        s"(1e-9 rel): $trendRepl vs $trendBase")

    // round-9 session-3 invariants ------------------------------------
    // Markov attribution: every transition probability (n·mult)/(tot·mult)
    // rounds the SAME real as n/tot (correctly-rounded IEEE division of
    // exact integers), so the whole absorption solve is bit-identical
    // under replication — exact, not tolerance
    val markovBase = markovMap(evBase)
    check("markov_replication_identical",
      markovBase.nonEmpty && markovRepl == markovBase,
      s"Markov attribution must be bit-identical under replication: " +
        s"$markovRepl vs $markovBase")
    // rule-based credits: touch/conversion counts scale exactly; the
    // per-channel credit is the same multiset of per-conversion weights
    // summed mult times over, so it is ×mult only to 1e-9 rel (sum order)
    val creditBase = creditMap(evBase)
    check("attribution_credits_scaling_law",
      creditRepl.keySet == creditBase.keySet && creditRepl.nonEmpty &&
        creditRepl.forall { case (ch, (t, c, w)) =>
          t == creditBase(ch)._1 * mult && c == creditBase(ch)._2 * mult &&
            math.abs(w - creditBase(ch)._3 * mult) <=
              1e-9 * math.max(math.abs(w), 1.0) },
      s"credits must scale by exactly mult (counts) / 1e-9 rel (credit): " +
        s"$creditRepl vs $creditBase x $mult")
    // weighted SSSP: disjoint replicas with identical weighted topology →
    // reached-node count scales exactly and replica-0 distances are
    // bit-identical (min-plus over identical exact integral sums)
    val ssspBase = ssspDist(membership(1)).localCheckpoint(true)
    val ssspBaseN = ssspBase.count()
    check("sssp_replication_law",
      ssspBaseN > 0 && ssspRepl.count() == ssspBaseN * mult,
      s"SSSP reach must scale by exactly mult: " +
        s"${ssspRepl.count()} != $ssspBaseN x $mult")
    val ssspDiff = ssspBase.join(
        ssspRepl.filter(col("node") < 200000000L)
          .select(col("node"), col("dist").as("d2")),
        Seq("node"), "full")
      .filter(col("dist").isNull || col("d2").isNull ||
        col("dist") =!= col("d2"))
      .count()
    check("sssp_replica_identical", ssspDiff == 0,
      s"replica-0 distances must match the base run: $ssspDiff differ")
    // decontamination: replicas share gram STRINGS, so a replica-0 doc
    // keeps its n_grams/n_hit_grams while its bench-doc hits pick up
    // every bench replica → ×mult exactly
    val docsBase = spark.read.parquet(s"$dir/documents.parquet")
    val contamBase = contamFrame(docsBase).localCheckpoint(true)
    val contamBaseN = contamBase.count()
    check("contamination_replication_law",
      contamBaseN > 0 && contamRepl.count() == contamBaseN * mult,
      s"contaminated-doc count must scale by exactly mult: " +
        s"${contamRepl.count()} != $contamBaseN x $mult")
    val contamDiff = contamBase
      .select(col("doc_id"), col("n_grams"), col("n_hit_grams"),
        col("n_bench_docs"))
      .join(contamRepl.filter(col("doc_id") < 100000000L)
          .select(col("doc_id"), col("n_grams").as("g2"),
            col("n_hit_grams").as("h2"), col("n_bench_docs").as("b2")),
        Seq("doc_id"), "full")
      .filter(col("n_grams").isNull || col("g2").isNull ||
        col("n_grams") =!= col("g2") || col("n_hit_grams") =!= col("h2") ||
        col("b2") =!= col("n_bench_docs") * mult)
      .count()
    check("contamination_replica_law", contamDiff == 0,
      s"replica-0 contamination rows must match the base run with " +
        s"mult-scaled bench hits: $contamDiff differ")

    // round-9 session-4 invariants ------------------------------------
    // record linkage: replicas share the NAME space (blocking and the
    // distinct-pair scoring are replica-invariant) while ids are
    // disjoint — so the match count scales by exactly mult and
    // replica-0 picks the same (score, smallest-rid) winners
    // bit-for-bit (foreign replicas only ADD larger rids, which the
    // tie-break never prefers)
    val partsBase = spark.read.parquet(s"$dir/part.parquet")
    val partsRepl = replicate(partsBase, Seq("p_partkey"))
    val dirtyName =
      expr("concat(substring(p_name, 1, 7), substring(p_name, 9))")
    def linkFrame(p: DataFrame, cap: Long): DataFrame =
      graft.operators.Linkage.linkage(
        p.select(col("p_partkey").as("lid"), col("p_name").as("nm")),
        p.select((col("p_partkey") + 10000000L).as("rid"),
          dirtyName.as("nm")),
        "lid", "rid", "nm", "nm", threshold = 0.9, topPerLeft = 1,
        maxBlockSize = cap).get
    var rlRepl: DataFrame = null
    time("record-linkage")({
      rlRepl = linkFrame(partsRepl, 100000000L).localCheckpoint(true)
      rlRepl.count()
    })
    val rlBase = linkFrame(partsBase, 100000000L).localCheckpoint(true)
    val rlBaseN = rlBase.count()
    check("linkage_replication_law",
      rlBaseN > 0 && rlRepl.count() == rlBaseN * mult,
      s"linkage matches must scale by exactly mult: " +
        s"${rlRepl.count()} != $rlBaseN x $mult")
    val rlDiff = rlBase.join(
        rlRepl.filter(col("lid") < 100000000L)
          .select(col("lid"), col("rid").as("r2"), col("score").as("s2")),
        Seq("lid"), "full")
      .filter(col("rid").isNull || col("r2").isNull ||
        col("rid") =!= col("r2") || col("score") =!= col("s2"))
      .count()
    check("linkage_replica_identical", rlDiff == 0,
      s"replica-0 linkage winners must match the base run: $rlDiff differ")
    // hot-block cap: report matches an independent recount exactly, and
    // a capped run equals the uncapped run minus the dropped blocks
    // (left and right share the block key, so a dropped block removes
    // whole left rows, never partial candidate sets)
    val rightRepl = partsRepl.select(
      (col("p_partkey") + 10000000L).as("rid"), dirtyName.as("nm"))
    val capRep = graft.operators.Linkage.linkageCapReport(rightRepl, "nm",
        graft.operators.Linkage.prefixBlocker(2), maxBlockSize = 25000L).get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val capDirect = rightRepl
      .select(substring(lower(trim(col("nm"))), 1, 2).as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("n")).filter(col("n") > 25000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    check("linkage_cap_report_exact",
      capRep.nonEmpty && capRep == capDirect,
      s"cap report must equal the direct recount: $capRep vs $capDirect")
    val capped = linkFrame(partsRepl, 25000L)
    val lidBlock = partsRepl.select(col("p_partkey").as("lid"),
      substring(lower(trim(col("p_name"))), 1, 2).as("bk"))
    val expCapped = rlRepl.join(lidBlock, Seq("lid"))
      .filter(!col("bk").isin(capRep.keySet.toSeq: _*))
      .select("lid", "rid", "score", "rank")
    check("linkage_cap_semantics",
      capped.exceptAll(expCapped).isEmpty &&
        expCapped.exceptAll(capped).isEmpty,
      "capped linkage must equal the uncapped run minus dropped blocks")
    // changepoint / theil-sen: disjoint per-key replicas with identical
    // series — every per-key output row is bit-identical to the base
    // run and the row count scales by exactly mult (every quantity is
    // an IEEE expression of exact integers; no tolerance needed)
    def cpMap(d: DataFrame): Map[Long, (Long, Long, Double, Double, Double)] =
      graft.operators.TimeSeries.changepoint(d, Seq("user_id"), "ts",
          "value", minSegment = 5).get
        .select(col("user_id"), col("n"), col("t_index"),
          col("mean_left"), col("mean_right"), col("gain"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
    var cpRepl: Map[Long, (Long, Long, Double, Double, Double)] = null
    time("changepoint")({ cpRepl = cpMap(evRepl); cpRepl.size.toLong })
    val cpBase = cpMap(evBase)
    check("changepoint_replication_law",
      cpBase.nonEmpty && cpRepl.size == cpBase.size * mult &&
        cpBase.forall { case (u, v) => cpRepl(u) == v },
      s"changepoint rows must be replica-identical and scale by mult: " +
        s"${cpRepl.size} vs ${cpBase.size} x $mult")
    def slopeMap(d: DataFrame): Map[Long, (Long, Long, Double)] =
      graft.operators.TimeSeries.theilSen(d, Seq("user_id"), "ts",
          "value").get
        .select(col("user_id"), col("n_points"), col("n_pairs"), col("slope"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    var slopeRepl: Map[Long, (Long, Long, Double)] = null
    time("theil-sen")({ slopeRepl = slopeMap(evRepl); slopeRepl.size.toLong })
    val slopeBase = slopeMap(evBase)
    check("theil_sen_replication_law",
      slopeBase.nonEmpty && slopeRepl.size == slopeBase.size * mult &&
        slopeBase.forall { case (u, v) => slopeRepl(u) == v },
      s"theil-sen rows must be replica-identical and scale by mult: " +
        s"${slopeRepl.size} vs ${slopeBase.size} x $mult")
    // reciprocity: disjoint edge replicas — counts scale by exactly
    // mult and the ratio (mult·a)/(mult·b) rounds the same real as a/b
    val liRecip = replicate(
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_partkey", "l_suppkey"),
      Seq("l_partkey", "l_suppkey"))
    var recipRepl: (Long, Long, Double) = null
    time("reciprocity")({
      val r = graft.operators.Graph.reciprocity(liRecip,
        "l_partkey", "l_suppkey").get.collect().head
      recipRepl = (r.getLong(0), r.getLong(1), r.getDouble(2))
      recipRepl._1
    })
    val recipBase = graft.operators.Graph.reciprocity(
        spark.read.parquet(s"$dir/lineitem.parquet"),
        "l_partkey", "l_suppkey").get.collect().head
    check("reciprocity_replication_law",
      recipBase.getLong(0) > 0 &&
        recipRepl == ((recipBase.getLong(0) * mult, recipBase.getLong(1) * mult,
          recipBase.getDouble(2))),
      s"reciprocity must scale counts by mult with a bit-identical " +
        s"ratio: $recipRepl vs $recipBase x $mult")

    // k-truss: disjoint replicas of the thresholded co-occurrence graph
    // — surviving-edge count scales by exactly mult and replica-0
    // supports are bit-identical (peeling is a pure function of the
    // component, and replicas are separate components)
    var trussRepl: DataFrame = null
    time("ktruss")({
      trussRepl = graft.operators.Graph.kTruss(
          graft.operators.Graph.projectBipartite(membRepl, "s", "p",
            minShared = minShared).get, "src", "dst", k = 3).get
        .localCheckpoint(true)
      trussRepl.count()
    })
    val trussBase = graft.operators.Graph.kTruss(baseGraph, "src", "dst",
      k = 3).get.localCheckpoint(true)
    val trussBaseN = trussBase.count()
    check("ktruss_replication_law",
      trussBaseN > 0 && trussRepl.count() == trussBaseN * mult,
      s"3-truss edges must scale by exactly mult: " +
        s"${trussRepl.count()} != $trussBaseN x $mult")
    val trussDiff = trussBase
      .select(col("src"), col("dst"), col("support"))
      .join(trussRepl.filter(col("src") < 100000000L)
          .select(col("src"), col("dst"), col("support").as("s2")),
        Seq("src", "dst"), "full")
      .filter(col("support").isNull || col("s2").isNull ||
        col("support") =!= col("s2"))
      .count()
    check("ktruss_replica_identical", trussDiff == 0,
      s"replica-0 truss supports must match the base run: $trussDiff differ")

    // containment pairs: replicas SHARE the gram-string space, so the
    // blowup is quadratic by design and exactly predictable —
    //   out(mult) = mult²·out(1) + C(mult,2)·D
    // (every base pair appears once per ordered replica combo; every
    // gram-bearing doc pairs with its own mult−1 twins at containment
    // 1). The invariant checks the quadratic candidate path does
    // exactly what the law says, no more, no fewer.
    val contDocsBase = spark.read.parquet(s"$dir/documents.parquet")
    val contDocsRepl = replicate(contDocsBase, Seq("doc_id"))
    def contOut(d: DataFrame): Long =
      graft.operators.Dedup.containmentPairs(d, "text", "doc_id",
        n = 5, threshold = 0.5, maxGramDf = 1000000L).get.count()
    var contReplN = 0L
    time("containment-pairs")({ contReplN = contOut(contDocsRepl); contReplN })
    val contBaseN = contOut(contDocsBase)
    val contD = graft.operators.Dedup.containmentCapReport(
        contDocsBase, "text", "doc_id", n = 5, maxGramDf = 1000000L)
      .get.count() // 0 hot grams at this cap — D = docs with >= 1 gram:
    val contDocsWithGrams = contDocsBase
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.wordNgrams(col("text"), 5)).as("g"),
        col("doc_id"))
      .select("doc_id").distinct().count()
    check("containment_quadratic_law",
      contBaseN > 0 && contD == 0L &&
        contReplN == mult.toLong * mult * contBaseN +
          mult.toLong * (mult - 1) / 2 * contDocsWithGrams,
      s"containment pairs must follow mult²·base + C(mult,2)·D: " +
        s"$contReplN vs $mult²·$contBaseN + C·$contDocsWithGrams")

    // mann-kendall: disjoint per-key replicas — every (s, var_s, z) is
    // bit-identical to the base run (S and the variance moments are
    // exact integers; z one IEEE sqrt/divide of them)
    def mkMap(d: DataFrame): Map[Long, (Long, Long, Double, Double)] =
      graft.operators.TimeSeries.mannKendall(d, Seq("user_id"), "ts",
          "value").get
        .select(col("user_id"), col("n_points"), col("s"), col("var_s"),
          col("z"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3),
            if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
    var mkRepl: Map[Long, (Long, Long, Double, Double)] = null
    time("mann-kendall")({ mkRepl = mkMap(evRepl); mkRepl.size.toLong })
    val mkBase = mkMap(evBase)
    check("mann_kendall_replication_law",
      mkBase.nonEmpty && mkRepl.size == mkBase.size * mult &&
        mkBase.forall { case (u, v) => mkRepl(u) == v },
      s"mann-kendall rows must be replica-identical and scale by mult: " +
        s"${mkRepl.size} vs ${mkBase.size} x $mult")
    // kendall tau-b: invariant under strictly monotone transforms of
    // either margin (all pair counts are identical longs, so tau is the
    // SAME IEEE expression) — checked on the replicated frame
    def tauRow(d: DataFrame, a: String, b: String) =
      graft.operators.Stats.kendallTau(d, a, b, maxCells = 100000).get
        .collect().head
    var tauPlain: org.apache.spark.sql.Row = null
    time("kendall-tau")({
      tauPlain = tauRow(li, "l_quantity", "l_discount"); tauPlain.getLong(0)
    })
    val tauXform = tauRow(
      li.withColumn("qa", col("l_quantity") * 2 + 1)
        .withColumn("db", pow(col("l_discount"), 3)), "qa", "db")
    check("kendall_tau_monotone_invariance",
      tauPlain.getLong(0) > 0 && tauPlain.toSeq.drop(1) == tauXform.toSeq.drop(1),
      s"tau-b must be invariant under monotone margin transforms: " +
        s"$tauPlain vs $tauXform")
    // DTW: replicated events multiply every ×100-exact series cell by
    // mult, and DTW(m·a, m·b) = m·DTW(a, b) EXACTLY (|m·x − m·y| =
    // m·|x − y|, min commutes, all sums exact integers)
    def dtwMap(d: DataFrame): Map[(String, String), Double] = {
      val cells = d.filter(col("ts").isNotNull)
        .groupBy(col("event_type"), hour(col("ts")).as("h"))
        .agg(sum(round(col("value") * 100)).as("v"))
      val grid = d.select("event_type").distinct()
        .crossJoin(spark.range(0, 24).select(col("id").cast("int").as("h")))
      val filled = grid.join(cells, Seq("event_type", "h"), "left")
        .withColumn("v", coalesce(col("v"), lit(0.0)))
      val series = graft.operators.TimeSeries.toSeries(filled,
        Seq("event_type"), "h", "v").get
      graft.operators.TimeSeries.dtwPairs(series, "event_type", "series")
        .get.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    }
    var dtwRepl: Map[(String, String), Double] = null
    time("dtw-pairs")({ dtwRepl = dtwMap(evRepl); dtwRepl.size.toLong })
    val dtwBase = dtwMap(evBase)
    check("dtw_mass_scaling_law",
      dtwBase.nonEmpty && dtwRepl.size == dtwBase.size &&
        dtwBase.forall { case (k, v) => dtwRepl(k) == v * mult },
      s"DTW must scale bit-exactly by mult under replication: " +
        s"$dtwRepl vs $dtwBase x $mult")
    // textrank: corpus replication multiplies every co-occurrence
    // weight by mult, and (rank·17·(m·w)) div (20·(m·outw)) floors the
    // SAME rational as the base — ranks replication-BIT-IDENTICAL (the
    // markov q248 law)
    def trOf(d: DataFrame): Seq[(String, Long, Double)] =
      graft.operators.Keywords.textrank(d, "doc_id", "text", topK = 15)
        .get.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    var trRepl: Seq[(String, Long, Double)] = null
    time("textrank")({ trRepl = trOf(docs); trRepl.size.toLong })
    val trBase = trOf(contDocsBase)
    check("textrank_replication_identity",
      trBase.nonEmpty && trBase == trRepl,
      s"textrank ranks must be replication-bit-identical: " +
        s"$trRepl vs $trBase")

    // betweenness: landmarks live in replica 0 only — replica-0 nodes
    // must read the base run (sigma exact; delta float sums compare
    // ROUNDED at 6), every other replica reads 0
    val bcBaseGraph = baseGraph // thresholded co-occurrence, symmetric
    val bcLm = bcBaseGraph.select(col("src").as("node"))
      .union(bcBaseGraph.select(col("dst").as("node")))
      .distinct().orderBy("node").limit(3)
    def bcMap(g: DataFrame): Map[Long, Double] =
      graft.operators.Graph.betweenness(g, "src", "dst", bcLm, "node",
          maxDepth = 6).get
        .collect().map(r => r.getLong(0) ->
          math.rint(r.getDouble(1) * 1e6) / 1e6).toMap
    val replGraph = graft.operators.Graph.projectBipartite(membRepl,
      "s", "p", minShared = minShared).get
    val replSym = replGraph.select("src", "dst").union(
        replGraph.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true) // consumed by betweenness AND conductance
    val baseSym = bcBaseGraph.select("src", "dst").union(
        bcBaseGraph.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var bcRepl: Map[Long, Double] = null
    time("betweenness")({ bcRepl = bcMap(replSym); bcRepl.size.toLong })
    val bcBase = bcMap(baseSym)
    check("betweenness_replica_law",
      bcBase.exists(_._2 > 0) &&
        bcBase.forall { case (n, v) => bcRepl(n) == v } &&
        bcRepl.forall { case (n, v) => bcBase.contains(n) || v == 0.0 },
      "replica-0 betweenness must match the base run; unseeded " +
        "replicas must read 0")
    // conductance: replica shift is a multiple of 4, so node%4 labels
    // survive — counts scale by mult, the ratio is bit-identical
    def condMap(g: DataFrame): Map[Long, (Long, Long, Long, Double)] = {
      val lbl = g.select(col("src").as("node"))
        .union(g.select(col("dst").as("node"))).distinct()
        .withColumn("community", col("node") % 4)
      graft.operators.Graph.conductance(g, "src", "dst", lbl, "node",
          "community").get
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
    }
    var condRepl: Map[Long, (Long, Long, Long, Double)] = null
    time("conductance")({ condRepl = condMap(replSym); condRepl.size.toLong })
    val condBase = condMap(baseSym)
    check("conductance_replication_law",
      condBase.nonEmpty && condBase.forall { case (c, (n, v, cut, phi)) =>
        condRepl(c) == ((n * mult, v * mult, cut * mult, phi))
      },
      s"conductance must scale counts by mult with a bit-identical " +
        s"ratio: $condRepl vs $condBase")
    // cohort LTV: replicated users multiply every cohort cell by mult;
    // sizes scale EXACTLY; revenue/ltv divide mult-scaled exact longs,
    // whose descale ((m·r)/100 vs (r/100)·m) may differ in the last
    // ulp — compare at 1e-9 relative
    def relEqD(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    def ltvMap(d: DataFrame): Map[(Long, Int), (Long, Double, Double)] =
      graft.operators.Behavior.cohortLtv(d, "ts", "user_id", "value",
          bucketSec = 604800L).get
        .collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1)) ->
          ((r.getLong(3), r.getDouble(4), r.getDouble(6)))).toMap
    var ltvRepl: Map[(Long, Int), (Long, Double, Double)] = null
    time("cohort-ltv")({ ltvRepl = ltvMap(evRepl); ltvRepl.size.toLong })
    val ltvBase = ltvMap(evBase)
    check("cohort_ltv_replication_law",
      ltvBase.nonEmpty && ltvRepl.size == ltvBase.size &&
        ltvBase.forall { case (k, (sz, rev, ltv)) =>
          val (rs, rr, rl) = ltvRepl(k)
          rs == sz * mult && relEqD(rr, rev * mult) && relEqD(rl, ltv) },
      s"cohort LTV must scale sizes/revenue by mult with matching ltv")

    // landmark harmonic centrality on the replicated graph: landmarks
    // are base-copy ids, replicas are disconnected shifted copies —
    // so the result over the replicated graph must equal the base run
    // EXACTLY (the integer lcm/d sums make equality bitwise), with no
    // replica node reached at all
    def harmMap(g: DataFrame): Map[Long, (Long, Long, Double)] =
      graft.operators.Graph.harmonicCentrality(g, "src", "dst", bcLm,
          "node", maxDepth = 4).get
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    var harmRepl: Map[Long, (Long, Long, Double)] = null
    time("harmonic")({ harmRepl = harmMap(replSym); harmRepl.size.toLong })
    val harmBase = harmMap(baseSym)
    check("harmonic_replication_law",
      harmBase.nonEmpty && harmRepl == harmBase,
      s"harmonic centrality from base landmarks must ignore replicas: " +
        s"${harmRepl.size} vs ${harmBase.size}")

    // star-contraction CC on the 10x-replicated co-occurrence graph:
    // replicas are disjoint shifted copies whose ids exceed the base
    // range, so replica-0 nodes must keep EXACTLY their base labels
    // (component minima are base ids), node count and component count
    // scale by mult
    def ccMap(g: DataFrame): Map[Long, Long] =
      graft.operators.Graph.connectedComponentsStar(g, "src", "dst").get
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var ccRepl: Map[Long, Long] = null
    time("cc-star")({ ccRepl = ccMap(replGraph); ccRepl.size.toLong })
    val ccBase = ccMap(bcBaseGraph)
    check("cc_star_replication_law",
      ccBase.nonEmpty && ccRepl.size == ccBase.size * mult &&
        ccRepl.values.toSet.size == ccBase.values.toSet.size * mult &&
        ccBase.forall { case (n, c) => ccRepl(n) == c },
      s"star CC must replicate per-copy: ${ccRepl.size} vs " +
        s"${ccBase.size} x $mult")

    // FULL Louvain on the 10x-replicated co-occurrence graph: modularity
    // must be NON-DECREASING as coarsening levels are added — the
    // operator's exact-numerator acceptance guarantees it by
    // construction, and this checks the guarantee survives the composed
    // multi-level pipeline end-to-end at 10x; plus the replica-identity
    // law (replicas are disjoint copies, so replica-0 labels must
    // partition exactly like the base run's)
    def louvQ(g: DataFrame, levels: Int): Double = {
      val lab = graft.operators.Graph.louvain(g, "src", "dst",
        passes = 2, levels = levels).get
      graft.operators.Graph.modularity(g, "src", "dst", lab, "node",
          "community").get
        .collect().map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
        .head
    }
    var louvQ2: Double = Double.NaN
    time("louvain-full")({ louvQ2 = louvQ(replGraph, 2); 1L })
    val louvQ1 = louvQ(replGraph, 1)
    check("louvain_modularity_monotone",
      !louvQ1.isNaN && !louvQ2.isNaN && louvQ2 >= louvQ1 - 1e-12,
      s"full-louvain modularity must not decrease across levels: " +
        s"$louvQ1 -> $louvQ2")

    // IVF routing scan fraction (q317's construction): coarse centroids
    // are the 8 base corpus vectors vec_id ≡ 1 (mod 6) < 48 — replica
    // ids shift by ≥ 1e8 so the router is identical on both frames —
    // and routing a vector is value-only, so replicas land in the same
    // cells: probed rows and corpus both scale by mult and the fraction
    // is the bit-identical quotient of mult-scaled longs. The bound
    // invariant caps mean fraction at 1.8 × nProbe/nCells: the whole
    // point of IVF is a scan ≈ nProbe/nCells, and routing skew that
    // breaks it should surface at 10×, not at 100 TB.
    def ivfCoarse(d: DataFrame): DataFrame = d
      .filter(col("vec_id") % 6 === 1 && col("vec_id") < 48)
      .select(expr("CAST(vec_id DIV 6 AS INT)").as("cell"),
        col("embedding").as("centroid"))
    def scanFracs(corpus: DataFrame): Map[Long, Double] =
      graft.operators.Quantize.ivfScanReport(corpus,
          corpus.filter(col("vec_id") < 10), "embedding", "vec_id",
          ivfCoarse(corpus), nProbe = 3).get
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    var ivfRepl: Map[Long, Double] = null
    time("ivf-scan-report")({ ivfRepl = scanFracs(emb); ivfRepl.size.toLong })
    val ivfBase = scanFracs(embBase)
    check("ivf_scan_replication_law",
      ivfBase.nonEmpty && ivfRepl.size == ivfBase.size &&
        ivfBase.forall { case (q, f) => ivfRepl(q) == f },
      s"IVF scan fraction must be replication-invariant: $ivfRepl vs $ivfBase")
    check("ivf_scan_fraction_bound",
      ivfRepl.values.sum / ivfRepl.size <= 1.8 * 3.0 / 8.0,
      s"mean IVF scan fraction ${ivfRepl.values.sum / ivfRepl.size} " +
        "exceeds 1.8 x nProbe/nCells — routing skew")

    // round-11 invariants ---------------------------------------------
    // louvain warm-start continuation: resuming from a 2-pass seed with
    // the parity schedule continued must be BIT-IDENTICAL to the
    // uninterrupted 4-pass run — the snapshot-resume contract at 10x
    def lmMap(seed: Option[DataFrame], passes: Int, first: Int): Map[Long, Long] =
      graft.operators.Graph.louvainMove(replGraph, "src", "dst",
          passes = passes, seed = seed, firstPass = first).get
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var lmWarm: Map[Long, Long] = null
    time("louvain-warmstart")({
      val half = graft.operators.Graph.louvainMove(replGraph, "src", "dst",
        passes = 2).get.localCheckpoint(true)
      lmWarm = lmMap(Some(half), 2, 3)
      lmWarm.size.toLong
    })
    val lmCold = lmMap(None, 4, 1)
    check("louvain_warmstart_continuation_law",
      lmCold.nonEmpty && lmWarm == lmCold,
      s"warm continuation must equal the uninterrupted run: " +
        s"${lmWarm.size} vs ${lmCold.size}")

    // IVF stored-list FILE pruning (the q317 construction served from a
    // cell-partitioned stored index): the search scan must carry
    // PartitionFilters and READ fewer files than the index holds —
    // ≈ probed/nCells of them. AQE is disabled around this one plan so
    // the FileSourceScanExec is inspectable; numFiles is its own metric.
    time("ivf-file-prune")({
      val coarseB = ivfCoarse(embBase)
      val cbB = spark.range(0, 8).select(col("id").cast("int").as("s"))
        .crossJoin(spark.range(0, 16).select(col("id").cast("int").as("cell")))
        .withColumn("centroid", expr(
          "transform(sequence(0, 7), i -> " +
          "CAST(((s*31 + cell*7 + i*3) % 11 - 5) / 4.0 AS FLOAT))"))
      val idxDir = java.nio.file.Files
        .createTempDirectory("rehearsal_ivf_idx").toString
      graft.operators.Quantize.ivfEncodeWith(embBase, "embedding",
          "vec_id", coarseB, cbB, m = 8, cells = 16).get
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
      val totalFiles = {
        val d = new java.io.File(idxDir)
        def walk(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles.map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1L else 0L
        walk(d)
      }
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val stored = spark.read.parquet(idxDir)
        // nProbe = 1 and a 3-query batch: the probed-cell UNION must be
        // a strict subset of the 8 router cells, or there is nothing to
        // prune (the r11 first-cut used 10 queries × nProbe 3, which
        // covered every cell — a vacuous law)
        val search = graft.operators.Quantize.ivfSearchEncoded(stored,
          embBase, embBase.filter(col("vec_id") < 3), "embedding",
          "vec_id", coarseB, cbB, m = 8, cells = 16, k = 5, nProbe = 1,
          shortlistK = 600).get
        search.collect()
        val scans = search.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.toString.contains(idxDir.split('/').last)) => f
        }
        val readFiles = scans.map(_.metrics("numFiles").value).sum
        check("ivf_file_prune_law",
          scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty) &&
            readFiles > 0 && readFiles < totalFiles,
          s"stored-list search must partition-prune files: read " +
            s"$readFiles of $totalFiles with filters " +
            scans.map(_.partitionFilters).mkString(","))
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      1L
    })

    // DDSketch: (a) shard-merge associativity — histograms of three
    // arbitrary shards of the 10x frame re-aggregate to the one-shot
    // quantiles BIT-exactly (addition is the merge); (b) partition
    // invariance; (c) the alpha bound holds against the exact rank
    // values on the replicated frame
    val ddQs = Seq(0.1, 0.5, 0.9, 0.99)
    def ddOf(d: DataFrame): Map[Double, Double] =
      graft.operators.Sketch.ddQuantiles(d, "l_extendedprice", ddQs,
          alpha = 0.01).get
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    var ddRepl: Map[Double, Double] = null
    time("dd-quantiles")({ ddRepl = ddOf(li); ddRepl.size.toLong })
    val ddShards = Seq(
        li.filter(col("l_orderkey") % 3 === 0),
        li.filter(col("l_orderkey") % 3 === 1),
        li.filter(col("l_orderkey") % 3 === 2))
      .map(s => graft.operators.Sketch.ddHistogram(s, "l_extendedprice",
        alpha = 0.01).get)
      .reduce(_ unionByName _)
    val ddMerged = graft.operators.Sketch.ddQuantilesFromHistogram(
        ddShards, ddQs, alpha = 0.01).get
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    check("dd_quantile_merge_law", ddRepl.nonEmpty && ddMerged == ddRepl,
      s"sharded histogram merge must equal one-shot: $ddMerged vs $ddRepl")
    val ddShuffled = ddOf(li.repartition(97))
    check("dd_quantile_partition_invariance", ddShuffled == ddRepl,
      s"dd quantiles must be partitioning-invariant: $ddShuffled vs $ddRepl")
    val ddRanked = li.select(col("l_extendedprice").cast("double").as("v"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
      .localCheckpoint(true)
    val ddN = ddRanked.count()
    val ddExact = ddQs.map { q =>
      val r = math.floor(q * (ddN - 1)).toLong + 1
      q -> ddRanked.filter(col("rn") === r).head().getDouble(0)
    }.toMap
    check("dd_quantile_alpha_bound",
      ddQs.forall(q =>
        math.abs(ddRepl(q) - ddExact(q)) <= 0.01 * math.abs(ddExact(q)) + 1e-9),
      s"dd estimates must stay within alpha of exact: $ddRepl vs $ddExact")

    // duplicateClusters star fallback at 10x: a 1-round label budget
    // cannot converge the co-occurrence graph — the fallback must
    // produce EXACTLY the converged labels (driver union-find ground
    // truth)
    val ccPairs = replGraph.select(col("src").as("idA"), col("dst").as("idB"))
    var fbMap: Map[Long, Long] = null
    time("cc-fallback")({
      fbMap = graft.operators.Dedup.duplicateClusters(ccPairs,
          maxIter = 1, maxDriverEdges = 0L).get
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      fbMap.size.toLong
    })
    val ccTruth = graft.operators.Dedup.duplicateClusters(ccPairs).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    check("cc_fallback_exactness_law",
      ccTruth.nonEmpty && fbMap == ccTruth,
      s"star fallback must equal converged labels: " +
        s"${fbMap.size} vs ${ccTruth.size}")

    // BPE replication law: a ×mult-replicated corpus has every adjacent
    // pair count scaled EXACTLY ×mult, so the merge sequence is
    // identical and each pair_count is ×mult — integer-exact at any
    // scale (argmax ties break lexicographically on both sides)
    val bpeBaseDocs = spark.read.parquet(s"$dir/documents.parquet")
    var bpeRepl: Seq[(Int, String, String, String, Long)] = null
    time("bpe-learn")({
      bpeRepl = graft.operators.Bpe.learnMerges(docs, "text", 12).get
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq.sortBy(_._1)
      bpeRepl.size.toLong
    })
    val bpeBase = graft.operators.Bpe.learnMerges(bpeBaseDocs, "text", 12)
      .get.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq.sortBy(_._1)
    check("bpe_replication_law",
      bpeBase.size == 12 && bpeRepl == bpeBase.map(m =>
        m.copy(_5 = m._5 * mult)),
      s"replicated merge table must be the base table with counts " +
        s"x$mult: got ${bpeRepl.take(3)} vs base ${bpeBase.take(3)}")
    // frozen-apply parity at scale: tokenizing the 10x corpus under the
    // exported merge table equals the learn-side segmentation
    val bpeFrozen = bpeRepl.map(m => (m._2, m._3))
    val segApply = graft.operators.Bpe.applyMerges(docs, "text", bpeFrozen)
      .get.select("word", "segmentation")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val segLearn = graft.operators.Bpe.segmentWords(docs, "text", 12).get
      .select("word", "segmentation")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    check("bpe_apply_parity_law",
      segLearn.nonEmpty && segApply == segLearn,
      s"frozen apply must reproduce the learn-side segmentation: " +
        s"${segApply.size} vs ${segLearn.size} words")
    // r13: table-size independence of the rank-map apply — the same
    // corpus under the trained table PADDED to 32k dormant entries must
    // produce identical token totals (dormant ranks can never fire) at
    // comparable wall time; under the retired sequential kernel this
    // pass cost O(32k) sweeps per word
    val bpeTrainedTotal = graft.operators.Bpe
      .applyMerges(docs, "text", bpeFrozen).get
      .agg(coalesce(sum(col("freq") * col("n_tokens")), lit(0L)))
      .head().getLong(0)
    var bpeDeepTotal = -1L
    time("bpe-apply-32k")({
      // max(0, …): a trained table larger than 32768 would otherwise
      // silently skip the pad and mislabel the row (r13 ADVICE); the
      // 12-merge gate table can never hit this, the guard is for
      // future retuning
      val deep = bpeFrozen ++ Seq.tabulate(
        math.max(0, 32768 - bpeFrozen.size))(i => ("ÿ" + i, "þ" + i))
      bpeDeepTotal = graft.operators.Bpe
        .applyMerges(docs, "text", deep).get
        .agg(coalesce(sum(col("freq") * col("n_tokens")), lit(0L)))
        .head().getLong(0)
      bpeDeepTotal
    })
    check("bpe_deep_table_law",
      bpeTrainedTotal > 0 && bpeDeepTotal == bpeTrainedTotal,
      s"32k-padded table diverged from the trained table: " +
        s"$bpeDeepTotal vs $bpeTrainedTotal tokens")
    // r14: TRAIN at production vocab size (r13 verdict ask #4) — every
    // gate trains 12 merges; this law exercises the driver-tier
    // training loop to a genuinely LEARNED >= 32k-entry table. The
    // base corpus's word pool saturates far below 32k distinct
    // mergeable pairs, so the corpus is augmented with two
    // md5-derived 32-char hex words per doc (pair-rich, fully
    // deterministic, derived from testdata ids — at 10x that is ~10k
    // distinct hex words whose 2/3/4-gram space supports > 32k merges
    // with pair count >= 2). Round trip: the trained table applied by
    // the rank-map kernel must reproduce tokenCountsDirect's totals
    // exactly, and a collectMerges→applyMerges export round trip is
    // part of the path by construction.
    locally {
      val rich = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          md5(col("doc_id").cast("string")),
          md5(concat(col("doc_id").cast("string"), lit("§bpe32k"))))
          .as("text"))
      var trained: Seq[(String, String)] = Seq.empty
      time("bpe-train-32k")({
        trained = graft.operators.Bpe.collectMerges(
          graft.operators.Bpe.learnMerges(rich, "text",
            numMerges = 32768, minPairCount = 2L).get)
        trained.size.toLong
      })
      check("bpe_train_32k_size", trained.size == 32768,
        s"augmented corpus saturated below 32k merges: ${trained.size}")
      var applyTotal = -1L
      var directTotal = -2L
      time("bpe-train-32k-apply")({
        applyTotal = graft.operators.Bpe.applyMerges(rich, "text", trained)
          .get.agg(coalesce(sum(col("freq") * col("n_tokens")), lit(0L)))
          .head().getLong(0)
        directTotal = graft.operators.Bpe.tokenCountsDirect(
            rich, "text", "doc_id", trained).get
          .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)
        applyTotal
      })
      check("bpe_train_32k_roundtrip",
        applyTotal > 0 && applyTotal == directTotal,
        s"32k trained-table apply diverged: word-frame total " +
          s"$applyTotal vs per-doc total $directTotal")
    }

    // CDC tiling law at 10x: chunks must tile every document exactly —
    // Σ chunk_len == Σ len(text), and per-doc chunk starts contiguous
    // (spot-checked globally via the sum identity + count of
    // first-chunk starts == docs)
    var cdcRows = 0L
    time("cdc-chunks")({
      val ch = graft.operators.Cdc.chunks(docs, "text", "doc_id").get
        .localCheckpoint(true)
      val tot = ch.agg(sum(col("chunk_len")).as("s"),
        sum(when(col("chunk_idx") === 1L && col("start") === 1L, 1L)
          .otherwise(0L)).as("firsts")).collect()(0)
      val want = docs.filter(col("text").isNotNull &&
          length(col("text")) >= 1)
        .agg(sum(length(col("text")).cast("long")),
          count(lit(1))).collect()(0)
      check("cdc_tiling_law",
        tot.getLong(0) == want.getLong(0) &&
          tot.getLong(1) == want.getLong(1),
        s"chunks must tile: bytes ${tot.getLong(0)} vs ${want.getLong(0)}, " +
          s"firsts ${tot.getLong(1)} vs ${want.getLong(1)}")
      cdcRows = ch.count()
      graft.physical.Optimise.releaseCheckpoint(ch)
      cdcRows
    })

    // water-filling exact-budget law at 10x: Σ cap == min(B, Σ n) with
    // budget chosen to force capping on the replicated key grid
    time("waterfill")({
      val wfB = 40000L * mult
      val caps = graft.operators.Sampling.waterfillCaps(li, "l_partkey",
        wfB).get.agg(sum(col("cap")).as("s"), sum(col("n")).as("t"))
        .collect()(0)
      check("waterfill_budget_law",
        caps.getLong(0) == math.min(wfB, caps.getLong(1)),
        s"sum(cap)=${caps.getLong(0)} must equal " +
          s"min($wfB, ${caps.getLong(1)})")
      caps.getLong(0)
    })

    // KMV laws at 10x: replicas repeat the SAME texts, so each source's
    // distinct-shingle set — and therefore its bottom-k sketch — is
    // bit-identical to the base corpus's; and the (k-1)/u_k estimate
    // stays within a generous 4-sigma band of the exact distinct count
    time("kmv-sketch")({
      val baseD = spark.read.parquet(s"$dir/documents.parquet")
      def sh(d: DataFrame) = d.select(col("source"),
        explode(graft.functions.TextFunctions.wordShingles(col("text"), 3))
          .as("g"))
      def sk(d: DataFrame) = graft.operators.Sketch.kmvSketches(
        sh(d), Seq("source"), "g", k = 128, salt = "rl").get
      val a = sk(baseD).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val b = sk(docs).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      check("kmv_replication_invariant", a == b,
        s"KMV sketches must be replication-invariant: ${a.size} vs ${b.size}")
      val exact = sh(baseD).groupBy("source")
        .agg(countDistinct(col("g")).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val est = graft.operators.Sketch.kmvMergeEstimate(
          sk(baseD), Seq("source"), k = 128).get.collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      check("kmv_error_bound",
        exact.forall { case (s, n) =>
          if (n < 128) est(s) == n.toDouble
          else math.abs(est(s) - n) / n < 0.36 // 4/sqrt(126)
        },
        s"KMV estimate out of band: $est vs $exact")
      b.size.toLong
    })

    // k-center replication law at 10x: replicas duplicate vectors under
    // HIGHER ids, so they never beat their base twin at any argmax
    // (equal distance, larger id) — the selected (round, id, sel_dist)
    // sequence must be bit-identical to the base corpus's
    time("kcenter")({
      val baseE = spark.read.parquet(s"$dir/embeddings.parquet")
      def sel(d: DataFrame) = graft.operators.Similarity.kCenterSelect(
          d, "vec_id", "embedding", 8).get.collect()
        .map(r => (r.getInt(0), r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
      val sb = sel(baseE)
      val sr = sel(emb)
      check("kcenter_replication_invariant", sb == sr && sb.size == 8,
        s"k-center selection must ignore replicas: $sb vs $sr")
      sr.size.toLong
    })

    // mSPRT extension law at 10x: the replicated stream's first |base|
    // prefixes ARE the base stream (replica orderkeys sort after), so
    // the final always-valid p over the longer stream can only be <=
    // the base final p, per key
    time("msprt")({
      val baseL = spark.read.parquet(s"$dir/lineitem.parquet")
      def lastP(d: DataFrame) = graft.operators.Stats.msprt(d,
          "l_discount", theta0 = 0.05, tau2 = 0.0004,
          orderCols = Seq("l_orderkey", "l_linenumber", "l_discount"),
          keys = Seq("l_returnflag"), scaleDecimals = 2).get
        .groupBy("l_returnflag").agg(min(col("p_always")).as("p"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val pb = lastP(baseL)
      val pr = lastP(li)
      check("msprt_extension_law",
        pb.forall { case (k, p) => pr(k) <= p },
        s"longer stream must not raise the always-valid p: $pr vs $pb")
      pr.size.toLong
    })

    // PSI replication exactness at 10x: counts scale by mult, so every
    // p = (n·m)/(N·m) is the SAME real quotient — bin shares, contribs
    // and totals must be bit-identical to the base comparison
    time("psi")({
      val baseL = spark.read.parquet(s"$dir/lineitem.parquet")
      def run(d: DataFrame) = graft.operators.Stats.psi(
          d.filter(pmod(col("l_orderkey"), lit(2)) === 1),
          d.filter(pmod(col("l_orderkey"), lit(2)) === 0),
          "l_extendedprice", Seq(1000.0, 5000.0, 10000.0, 50000.0)).get
        .orderBy("bin")
        .select("bin", "p_ref", "p_cur", "contrib", "psi_total")
        .collect().toSeq
      val pb = run(baseL)
      val pr = run(li)
      check("psi_replication_invariant", pb == pr,
        s"PSI must be replication-invariant: $pb vs $pr")
      pr.size.toLong
    })

    // Poisson-bootstrap laws at 10x: theta is the SAME real quotient
    // ((Σc·m)/(n·m)) — bit-equal; and 10x data must not WIDEN the CI
    // (draws differ per id, so the law is width shrink, not equality)
    time("bootstrap")({
      val baseL = spark.read.parquet(s"$dir/lineitem.parquet")
      def run(d: DataFrame) = graft.operators.Stats.poissonBootstrap(
          d, "l_discount",
          idCols = Seq("l_orderkey", "l_linenumber", "l_partkey"),
          nBoot = 40, alpha = 0.1, scaleDecimals = 2, salt = "rl").get
        .collect().head
      val rb = run(baseL)
      val rr = run(li)
      check("bootstrap_theta_replication_invariant",
        rb.getDouble(1) == rr.getDouble(1),
        s"theta must be replication-invariant: ${rb.getDouble(1)} vs " +
          s"${rr.getDouble(1)}")
      check("bootstrap_ci_shrink_law",
        (rr.getDouble(4) - rr.getDouble(3)) <
          (rb.getDouble(4) - rb.getDouble(3)),
        s"10x data must narrow the CI: " +
          s"[${rr.getDouble(3)}, ${rr.getDouble(4)}] vs " +
          s"[${rb.getDouble(3)}, ${rb.getDouble(4)}]")
      rr.getLong(0)
    })

    // round-12 estimator laws at 10x: cell/stratum MEANS are the same
    // real quotient under m-fold replication ((Σc·m)/(n·m)) — bit-equal
    // at round-6 — while the SEs must SHRINK (more rows, same spread);
    // SRM chi2 scales by m up to one extra rounding per term.
    time("experiment_stats")({
      val baseL = spark.read.parquet(s"$dir/lineitem.parquet")
      def did(d: DataFrame) = graft.operators.Stats.didEstimator(
          d.withColumn("__yr", year(col("l_shipdate")).cast("string")),
          "l_returnflag", "R", "A", "__yr", "1997", "1995",
          "l_quantity").get.collect().head
      val db = did(baseL); val dr = did(li)
      check("did_replication_invariant",
        dr.getDouble(9) == db.getDouble(9) &&
          dr.getDouble(5) == db.getDouble(5) &&
          dr.getDouble(8) == db.getDouble(8),
        s"DiD means/effect must be replication-invariant: " +
          s"${dr.getDouble(9)} vs ${db.getDouble(9)}")
      check("did_se_shrink_law", dr.getDouble(10) < db.getDouble(10),
        s"10x data must shrink the DiD SE: ${dr.getDouble(10)} vs " +
          s"${db.getDouble(10)}")
      def srm(d: DataFrame) = graft.operators.Stats.srmCheck(
          d.withColumn("__arm",
            pmod(col("o_orderkey"), lit(3)).cast("string")),
          "__arm", Map("0" -> 1.0, "1" -> 1.0, "2" -> 1.0)).get
        .agg(max(col("chi2_total"))).head().getDouble(0)
      val ob = spark.read.parquet(s"$dir/orders.parquet")
      val sb = srm(ob)
      // plain m-fold union (NO key shift — a shift would rotate arms
      // mod 3 and mix the ratios): counts scale exactly xm, so chi2
      // scales m-fold up to one rounding per term
      val sr = srm((0 until mult).map(_ => ob).reduce(_ union _))
      check("srm_chi2_scaling_law",
        math.abs(sr - mult * sb) <= 1e-6 * math.max(1.0, mult * sb),
        s"SRM chi2 must scale ~${mult}x under replication: $sr vs " +
          s"${mult * sb}")
      def ps(d: DataFrame) = graft.operators.Stats.postStratifiedMean(
          d, "l_extendedprice", "l_returnflag",
          Map("A" -> 0.3, "N" -> 0.5, "R" -> 0.2)).get.collect().head
      val pb = ps(baseL); val pr = ps(li)
      check("post_strat_replication_invariant",
        pr.getDouble(4) == pb.getDouble(4) &&
          pr.getDouble(3) == pb.getDouble(3),
        s"post-stratified mean must be replication-invariant: " +
          s"${pr.getDouble(4)} vs ${pb.getDouble(4)}")
      check("post_strat_se_shrink_law",
        pr.getDouble(5) < pb.getDouble(5),
        s"10x data must shrink the post-strat SE: ${pr.getDouble(5)} " +
          s"vs ${pb.getDouble(5)}")
      // QTE point estimate: the m-fold replicated grid carries counts
      // xm, so rank ceil(p*mn) picks the SAME grid value — bit-equal
      // (the CI differs by design: replicas are new ids, new draws)
      def qte(d: DataFrame) = graft.operators.Stats.quantileEffect(
          d, "l_returnflag", "R", "A", "l_quantity",
          idCols = Seq("l_orderkey", "l_linenumber", "l_partkey"),
          p = 0.75, nBoot = 8, salt = "rl").get.collect().head
      val qb2 = qte(baseL); val qr2 = qte(li)
      check("qte_replication_invariant",
        qr2.getDouble(3) == qb2.getDouble(3),
        s"QTE point estimate must be replication-invariant: " +
          s"${qr2.getDouble(3)} vs ${qb2.getDouble(3)}")
      dr.getLong(0)
    })

    println("[rehearsal] invariants OK (exact-first pair volume, CMS==exact top-k, " +
      "segment keep-first, boilerplate stability, span-dedup replication law, " +
      "semantic-dedup replication law, image/audio/video planted recall, " +
      "video cache release, videoDedupAgainst novel/sibling partition)")
    writeArtifact(aborted = false)
    println(s"[rehearsal] artifact written to $outPath")
    spark.stop()
  }
}
