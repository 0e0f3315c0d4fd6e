package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowedAgg: tumbling event-time window with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF.toDF("ts", "key", "v")
    val agg = Stream.windowedAgg(df, "ts", "10 minutes", "5 minutes",
      aggs = Seq(count(lit(1)).as("n"), sum($"v").as("s")), keys = Seq("key")).get
    input.addData((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(6), "a", 4.0), (ts(2), "b", 8.0))
    val out = Stream.drainToMemory(agg, "wnd_test", "complete").get
    val rows = out.select($"window.start", $"key", $"n", $"s")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(rows == Set(
      (ts(0), "a", 2L, 3.0), (ts(5), "a", 1L, 4.0), (ts(0), "b", 1L, 8.0)))
  }

  test("sessionAgg groups events within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF.toDF("ts", "key", "v")
    val agg = Stream.sessionAgg(df, "ts", "10 minutes", "5 minutes",
      keys = Seq("key"), aggs = Seq(count(lit(1)).as("n"))).get
    // two events 2 min apart (one session), then a 20-min gap (new session)
    input.addData((ts(0), "a", 1.0), (ts(2), "a", 1.0), (ts(22), "a", 1.0))
    val out = Stream.drainToMemory(agg, "sess_test", "complete").get
    assert(out.select("n").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("deduplicate drops repeated keys in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF.toDF("ts", "id")
    val dedup = Stream.deduplicate(df, Seq("id"), Some("ts"), Some("1 hour")).get
    input.addData((ts(0), "x"), (ts(1), "x"), (ts(2), "y"))
    val out = Stream.drainToMemory(dedup, "dedup_test").get
    assert(out.select("id").as[String].collect().sorted.toSeq == Seq("x", "y"))
  }

  test("intervalJoin matches rows inside the event-time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(Timestamp, String, Int)]
    val ri = MemoryStream[(Timestamp, String, Int)]
    val l = li.toDF.toDF("lts", "lk", "lv")
    val r = ri.toDF.toDF("rts", "rk", "rv")
    val joined = Stream.intervalJoin(l, r, "lts", "rts", Seq("lk" -> "rk"),
      watermarkDelay = "1 hour", lowerBound = "0 seconds", upperBound = "5 minutes").get
    li.addData((ts(0), "a", 1), (ts(10), "a", 2), (ts(0), "b", 3))
    // a@2 matches l a@0 (within 5m); a@20 matches nothing (10+5 < 20);
    // b@30 outside b@0's window; c has no left side
    ri.addData((ts(2), "a", 100), (ts(20), "a", 200), (ts(30), "b", 300), (ts(1), "c", 400))
    val out = Stream.drainToMemory(joined, "ij_test").get
    val rows = out.select("lv", "rv").as[(Int, Int)].collect().toSet
    assert(rows == Set((1, 100)))
  }

  test("intervalJoin rejects overlapping column names") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(Timestamp, String)]
    val df = li.toDF.toDF("ts", "k")
    assert(Stream.intervalJoin(df, df, "ts", "ts", Seq("k" -> "k"), "1 hour").isFailing)
  }

  test("upsertSink applies each micro-batch as an SCD-1 merge on parquet") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_upsink").toString
    val path = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    val input = MemoryStream[(Long, String, Long)]
    val df = input.toDF.toDF("id", "v", "seq")
    val q = Stream.upsertSink(df, path, Seq("id"), ckpt, seqCol = Some("seq")).get
    try {
      // batch 1: initial load, including an in-batch duplicate (seq wins)
      input.addData((1L, "a", 1L), (2L, "b", 1L), (2L, "b2", 2L))
      q.processAllAvailable()
      // batch 2: update id=1, insert id=3
      input.addData((1L, "a2", 3L), (3L, "c", 3L))
      q.processAllAvailable()
      // batch 3: LATE events — seq older than the table's must not win
      input.addData((2L, "late", 0L), (3L, "c-old", 1L), (4L, "d", 1L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(path)
      .select(col("id"), col("v")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a2"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("upsertSink fails a batch containing null seq values instead of losing data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsink_null").toString
    val path = s"$dir/table"
    Stream.applyUpsertBatch(
      Seq((1L, "a", 1L)).toDF("id", "v", "seq"), path, Seq("id"), Some("seq"))
    // a null-seq row must abort the batch loudly (silent null comparisons
    // would drop BOTH the base and delta row for that key)
    val bad = Seq((1L, "b", Option(2L)), (2L, "c", Option.empty[Long]))
      .toDF("id", "v", "seq")
    val err = intercept[Exception](
      Stream.applyUpsertBatch(bad, path, Seq("id"), Some("seq")))
    assert(err.getMessage != null)
    // and the table is unchanged
    import org.apache.spark.sql.functions.col
    assert(spark.read.parquet(path).select(col("v")).as[String].collect().toSeq == Seq("a"))
  }

  test("upsertSink recovers a table whose swap was interrupted") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_upsink_rec").toString
    val path = s"$dir/table"
    // simulate the crash window: the old table was moved aside and the
    // process died before the new one moved in
    Seq((1L, "a", 1L)).toDF("id", "v", "seq").write.parquet(s"$dir/table__bak_dead")
    Seq((9L, "junk", 9L)).toDF("id", "v", "seq").write.parquet(s"$dir/table__upsert_dead")
    val batch = Seq((2L, "b", 2L)).toDF("id", "v", "seq")
    Stream.applyUpsertBatch(batch, path, Seq("id"), Some("seq"))
    val got = spark.read.parquet(path)
      .select(col("id"), col("v")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    // the bak was restored as the base (id=1 survives), the dangling tmp
    // was discarded (no id=9), and the batch then applied normally
    assert(got == Seq((1L, "a"), (2L, "b")))
    val leftovers = new java.io.File(dir).listFiles().map(_.getName).filter(_.contains("__"))
    assert(leftovers.isEmpty, s"swap debris not cleaned: ${leftovers.toSeq}")
  }

  test("sessionize emits closed sessions when the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double, Timestamp)]
    val sessions = Stream.sessionize(input.toDS(), gapMs = 5 * 60 * 1000).get
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // session: 2 events within the gap
    input.addData(("a", 1.0, ts(0)), ("a", 2.0, ts(2)))
    q.processAllAvailable()
    assert(spark.table("sess_out").count() == 0) // still open
    // event far past the gap advances the watermark → session closes
    input.addData(("a", 9.0, ts(30)))
    q.processAllAvailable()
    input.addData(("b", 0.0, ts(59))) // push watermark again to flush
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out").as[SessionSummary].collect()
    val first = rows.find(r => r.key == "a" && r.n == 2)
    assert(first.isDefined, s"expected closed first session, got ${rows.toSeq}")
    assert(first.get.sum == 3.0)
    assert(first.get.firstMs == ts(0).getTime && first.get.lastMs == ts(2).getTime)
  }

  test("runningStats keeps per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double, Timestamp)]
    val stats = Stream.runningStats(input.toDS()).get
    val q = stats.writeStream.outputMode("update")
      .format("memory").queryName("stats_test").start()
    input.addData(("a", 1.0, ts(0)), ("a", 2.0, ts(1)))
    q.processAllAvailable()
    input.addData(("a", 4.0, ts(2)), ("b", 8.0, ts(0)))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("stats_test")
      .groupBy("key").agg(max("count").as("count"), max("sum").as("sum"))
      .as[(String, Long, Double)].collect().map { case (k, n, s) => k -> ((n, s)) }.toMap
    assert(last("a") == ((3L, 7.0)))   // state carried across batches
    assert(last("b") == ((1L, 8.0)))
  }

  test("enrich joins a broadcast static dimension per micro-batch, left semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val dim = Seq(("a", "cat1"), ("b", "cat2")).toDF("key", "category")
    val out = Stream.enrich(input.toDF.toDF("key", "v"), dim, Seq("key")).get
    input.addData(("a", 1.0), ("b", 2.0), ("zz", 3.0))
    val got = Stream.drainToMemory(out, "enrich_test").get
      .select("key", "category", "v")
      .as[(String, Option[String], Double)].collect().toSet
    // left join: the unmatched key survives with a null category
    assert(got == Set(("a", Some("cat1"), 1.0), ("b", Some("cat2"), 2.0),
      ("zz", None, 3.0)))
    // unsupported stream-side join types fail with OUR message
    assert(Stream.enrich(input.toDF.toDF("key", "v"), dim, Seq("key"),
      joinType = "right") match {
      case graft.functional.Fail(e) => e.getMessage.contains("enrichment")
      case _                        => false
    })
  }

  test("driftMonitor: bit-identical to batch pageHinkley; state survives batches") {
    implicit val sqlCtx = spark.sqlContext
    val events = (0 until 20).map { i =>
      ("k", i.toLong, if (i >= 15) 100.0 else 10.0 + (i % 3), ts(i))
    }
    // batch reference
    val batch = graft.operators.TimeSeries.pageHinkley(
        events.toDF("k", "id", "v", "ts"), Seq("k"), "ts", "v",
        delta = 0.0, lambda = 50.0, scale = 100L).get
      .orderBy("ts").select("ph_m", "ph", "alarm")
      .as[(Double, Double, Boolean)].collect()
    // stream in TWO micro-batches: state must carry across
    val input = MemoryStream[(String, Long, Double, Timestamp)]
    val drift = Stream.driftMonitor(input.toDS(), delta = 0.0,
      lambda = 50.0, scale = 100L).get
    val q = drift.toDF().writeStream.outputMode("append")
      .format("memory").queryName("drift_test").start()
    input.addData(events.take(12))
    q.processAllAvailable()
    input.addData(events.drop(12))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("drift_test")
      .orderBy("id").select("ph_m", "ph", "alarm")
      .as[(Double, Double, Boolean)].collect()
    assert(streamed.length == 20)
    assert(streamed.toSeq == batch.toSeq)
    // the level shift at i >= 15 must eventually alarm in both
    assert(batch.last._3 && streamed.last._3)
  }

  test("neardupAgainst: two micro-batches equal the batch operator " +
      "row-for-row; each pair emits exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "completely different reference text about spark engines " +
        "and their physical plans")).toDF("doc_id", "text")
    val newDocs = Seq(
      // exact dup of ref 1, near dup of ref 1, unrelated, exact of ref 2
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      (11L, "the quick brown fox jumps over the lazy dog again tomorrow"),
      (12L, "totally unrelated content sharing no shingles with anything " +
        "in the frozen corpus at all"),
      (13L, "completely different reference text about spark engines " +
        "and their physical plans"))
    val input = MemoryStream[(Long, String)]
    val streamDf = input.toDF.toDF("doc_id", "text")
    val out = Stream.neardupAgainst(streamDf, ref, "text", "doc_id",
      shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5).get
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("neardup_test").start()
    input.addData(newDocs.take(2))
    q.processAllAvailable()
    input.addData(newDocs.drop(2))
    q.processAllAvailable()
    q.stop()
    val streamedRows = spark.table("neardup_test")
      .as[(Long, Long, Double)].collect()
    val streamed = streamedRows.toSet
    val batch = graft.operators.Dedup.minhashPairsAgainst(
        newDocs.toDF("doc_id", "text"), ref, "text", "doc_id",
        shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5).get
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"stream/batch near-dup parity broken: $streamed vs $batch")
    assert(streamed.map(p => (p._1, p._2)) ==
      Set((10L, 1L), (11L, 1L), (13L, 2L)), s"unexpected pair set: $streamed")
    // first-matching-band dedup: multi-band collisions emit ONCE
    assert(streamedRows.length == streamed.size,
      "a pair emitted more than once — band dedup broken")
    // a static frame on the stream side is rejected
    assert(Stream.neardupAgainst(ref, ref, "text", "doc_id").isFailing)
  }

  test("windowedQuantileHistogram: drained histogram equals batch " +
      "ddHistogram per window bit-for-bit; state is bucket-bounded") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketch
    val rnd = new scala.util.Random(17L)
    val events = Seq.tabulate(600)(i =>
      (ts(i % 50), if (i % 2 == 0) "a" else "b",
        rnd.nextDouble() * 1000 - 100))
    val input = MemoryStream[(Timestamp, String, Double)]
    val h = Stream.windowedQuantileHistogram(
      input.toDF.toDF("ts", "key", "v"), "ts", "10 minutes", "5 minutes",
      "v", alpha = 0.1, keys = Seq("key")).get
    val q = h.writeStream.outputMode("complete").format("memory")
      .queryName("wqh_test").start()
    input.addData(events.take(300))
    q.processAllAvailable()
    input.addData(events.drop(300))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wqh_test")
      .select($"window.start", $"key", $"store", $"bucket", $"n")
      .as[(Timestamp, String, Int, Long, Long)].collect().toSet
    // batch equivalent: same window bucketing via ddHistogram over the
    // window-start-tagged frame
    val batch = Sketch.ddHistogram(
        events.toDF("ts", "key", "v")
          .withColumn("ws", window($"ts", "10 minutes")("start")),
        "v", alpha = 0.1, keys = Seq("ws", "key")).get
      .as[(Timestamp, String, Int, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch histogram diverged: ${streamed.diff(batch)} / ${batch.diff(streamed)}")
    // histogram state is far smaller than the event count
    assert(streamed.size < events.size / 2)
    // and the finished quantiles carry the alpha bound per (window, key)
    val hist = spark.table("wqh_test").select($"window.start".as("ws"),
      $"key", $"store", $"bucket", $"n")
    val est = Sketch.ddQuantilesFromHistogram(hist, Seq(0.5), alpha = 0.1,
        keys = Seq("ws", "key")).get
      .as[(Timestamp, String, Double, Double)].collect()
    val byWin = events.groupBy(e =>
      (Timestamp.from(e._1.toInstant.minusSeconds(
        e._1.toInstant.getEpochSecond % 600)), e._2))
    est.foreach { case (ws, key, _, v) =>
      val vals = byWin((ws, key)).map(_._3).sorted
      val exact = vals(math.floor(0.5 * (vals.size - 1)).toInt)
      assert(math.abs(v - exact) <= 0.1 * math.abs(exact) + 1e-9,
        s"window $ws/$key median $v vs exact $exact out of bound")
    }
    // static frames are rejected
    assert(Stream.windowedQuantileHistogram(events.toDF("ts", "key", "v"),
      "ts", "10 minutes", "5 minutes", "v").isFailing)
  }

  test("windowedDdSketches merge law: drained windows re-merged equal " +
      "the one-shot batch sketch over all events") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketch
    val rnd = new scala.util.Random(29L)
    val events = Seq.tabulate(500)(i =>
      (ts(i % 40), if (i % 3 == 0) "x" else "y",
        rnd.nextDouble() * 500 - 50))
    val input = MemoryStream[(Timestamp, String, Double)]
    val h = Stream.windowedDdSketches(
      input.toDF.toDF("ts", "key", "v"), "ts", "10 minutes", "5 minutes",
      "v", alpha = 0.05, keys = Seq("key")).get
    val q = h.writeStream.outputMode("complete").format("memory")
      .queryName("wdd_merge_test").start()
    input.addData(events.take(250))
    q.processAllAvailable()
    input.addData(events.drop(250))
    q.processAllAvailable()
    q.stop()
    // MERGE: drop the window key — the groupBy-sum inside
    // ddQuantilesFromHistogram adds bucket counts across windows
    val merged = Sketch.ddQuantilesFromHistogram(
        spark.table("wdd_merge_test")
          .select($"key", $"store", $"bucket", $"n"),
        Seq(0.25, 0.5, 0.95), alpha = 0.05, keys = Seq("key")).get
      .as[(String, Double, Double)].collect().toSet
    val oneShot = Sketch.ddQuantiles(events.toDF("ts", "key", "v"), "v",
        Seq(0.25, 0.5, 0.95), alpha = 0.05, keys = Seq("key")).get
      .as[(String, Double, Double)].collect().toSet
    assert(merged == oneShot,
      s"cross-window merge diverged from one-shot batch: " +
        s"${merged.diff(oneShot)} / ${oneShot.diff(merged)}")
    assert(Stream.windowedDdSketches(events.toDF("ts", "key", "v"),
      "ts", "10 minutes", "5 minutes", "v").isFailing)
  }

  test("windowedTokenCounts: drained per-window sums under a frozen " +
      "merge table equal the batch replay bit-for-bit across " +
      "micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bpe
    val rnd = new scala.util.Random(31L)
    val vocab = Seq("low", "lower", "lowest", "banana", "band", "bbb")
    val events = Seq.tabulate(90) { i =>
      (i.toLong, ts(i % 50), Seq.fill(1 + rnd.nextInt(4))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val batchDf = events.map { case (_, t, x) => (t, x) }.toDF("ts", "text")
    val idDf = events.toDF("id", "ts", "text")
    val merges = Bpe.collectMerges(Bpe.learnMerges(batchDf, "text", 10).get)
    val input = MemoryStream[(Timestamp, String)]
    val counts = Stream.windowedTokenCounts(input.toDF.toDF("ts", "text"),
      "ts", "text", "5 minutes", "10 minutes", merges).get
    val q = counts.writeStream.outputMode("complete").format("memory")
      .queryName("wtc_test").start()
    input.addData(events.take(30).map { case (_, t, x) => (t, x) })
    q.processAllAvailable()
    input.addData(events.drop(30).map { case (_, t, x) => (t, x) })
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wtc_test")
      .select($"window.start", $"n_tokens")
      .as[(Timestamp, Long)].collect().toSet
    // batch replay: per-doc direct counts re-grouped by the same window
    val batch = Bpe.tokenCountsDirect(idDf, "text", "id", merges).get
      .join(idDf, "id")
      .groupBy(window($"ts", "10 minutes")("start").as("ws"))
      .agg(sum($"n_tokens").as("n"))
      .as[(Timestamp, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch token sums diverged: ${streamed.diff(batch)} / " +
        s"${batch.diff(streamed)}")
    // static frames are rejected
    assert(Stream.windowedTokenCounts(batchDf, "ts", "text",
      "5 minutes", "10 minutes", merges).isFailing)
  }

  test("dedupEpochSink: micro-batched epochs equal the one-shot " +
      "clustering; state is committed atomically per batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    def rangeText(lo: Int, hi: Int) = (lo to hi).map(i => s"w$i").mkString(" ")
    // batch 1: a dup pair + a singleton cluster; batch 2: a bridge —
    // the q403 retraction fixture as a stream
    val b1 = Seq((0L, rangeText(1, 40)), (1L, rangeText(1, 40)),
      (5L, rangeText(21, 60)))
    val b2 = Seq((10L, rangeText(11, 50)),
      (11L, (1 to 40).map(i => s"other$i").mkString(" ")))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_epochsink").toString
    val input = MemoryStream[(Long, String)]
    val q = Stream.dedupEpochSink(input.toDF.toDF("doc_id", "text"),
      "text", "doc_id", s"$tmp/state", s"$tmp/ckpt",
      rowsPerBand = 2, threshold = 0.5).get
    input.addData(b1)
    q.processAllAvailable()
    // mid-stream: epoch 0 committed, readable, and prior-correct
    val mid = Stream.latestEpochBefore(spark, s"$tmp/state").get
    assert(mid.kept.select("doc_id").as[Long].collect().toSet ==
      Set(0L, 5L))
    input.addData(b2)
    q.processAllAvailable()
    q.stop()
    val fin = Stream.latestEpochBefore(spark, s"$tmp/state").get
    val oneShot = Dedup.duplicateClusters(
      Dedup.minhashPairs((b1 ++ b2).toDF("doc_id", "text"), "text",
        "doc_id", rowsPerBand = 2, threshold = 0.5,
        maxBucket = Int.MaxValue).get).get
      .as[(Long, Long)].collect().toSet
    assert(fin.labels.as[(Long, Long)].collect().toSet == oneShot)
    // the bridge demoted 5 (the q403 retraction semantics through
    // the stream)
    assert(fin.retractions.as[Long].collect().toSet == Set(5L))
    // beforeId semantics: batch 1's prior view excludes its own epoch
    assert(Stream.latestEpochBefore(spark, s"$tmp/state", 1L).get
      .kept.select("doc_id").as[Long].collect().toSet == Set(0L, 5L))
    assert(Stream.latestEpochBefore(spark, s"$tmp/state", 0L).isEmpty)
    // no tmp debris after commits; both epoch dirs present
    val names = new java.io.File(s"$tmp/state").list().toSet
    assert(names == Set("epoch=0", "epoch=1"), names.toString)
    // APPEND-STYLE storage (r14 review): each epoch dir holds only
    // the BATCH's index/ids deltas, not the accumulated corpus —
    // per-epoch I/O stays proportional to the batch
    assert(spark.read.parquet(s"$tmp/state/epoch=1/index").count() == 2L)
    assert(spark.read.parquet(s"$tmp/state/epoch=1/ids")
      .as[Long].collect().toSet == Set(10L, 11L))
    assert(spark.read.parquet(s"$tmp/state/epoch=0/ids")
      .as[Long].collect().toSet == Set(0L, 1L, 5L))
    // …while the reconstructed head unions them back to the full state
    assert(fin.ids.as[Long].collect().toSet == Set(0L, 1L, 5L, 10L, 11L))
    assert(fin.index.count() ==
      spark.read.parquet(s"$tmp/state/epoch=0/index").count() + 2L)
    // static frames rejected
    assert(Stream.dedupEpochSink(b1.toDF("doc_id", "text"), "text",
      "doc_id", s"$tmp/state2", s"$tmp/ckpt2").isFailing)
  }

  test("windowedVocabTokenCounts: drained greedy-piece sums under a " +
      "frozen vocabulary equal the batch replay across micro-batch " +
      "splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bpe
    val rnd = new scala.util.Random(37L)
    // 'bxn' stays uncoverable under the learned vocab → whole-word UNK
    // counts as ONE piece in both paths
    val words = Seq("low", "lower", "lowest", "banana", "band", "bxn")
    val events = Seq.tabulate(90) { i =>
      (i.toLong, ts(i % 50), Seq.fill(1 + rnd.nextInt(4))(
        words(rnd.nextInt(words.size))).mkString(" "))
    }
    val batchDf = events.map { case (_, t, x) => (t, x) }.toDF("ts", "text")
    val idDf = events.toDF("id", "ts", "text")
    val merges = Bpe.collectMerges(Bpe.learnMerges(batchDf, "text", 6).get)
    val vocab = Bpe.vocabFromCorpus(batchDf, "text", merges)
      .filterNot(_ == "x") // force bxn to UNK
    val input = MemoryStream[(Timestamp, String)]
    val counts = Stream.windowedVocabTokenCounts(
      input.toDF.toDF("ts", "text"), "ts", "text", "5 minutes",
      "10 minutes", vocab).get
    val q = counts.writeStream.outputMode("complete").format("memory")
      .queryName("wvc_test").start()
    input.addData(events.take(30).map { case (_, t, x) => (t, x) })
    q.processAllAvailable()
    input.addData(events.drop(30).map { case (_, t, x) => (t, x) })
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wvc_test")
      .select($"window.start", $"n_pieces")
      .as[(Timestamp, Long)].collect().toSet
    // batch replay: per-doc greedy counts re-grouped by the same window
    val batch = Bpe.vocabTokenCounts(idDf, "text", "id", vocab).get
      .join(idDf, "id")
      .groupBy(window($"ts", "10 minutes")("start").as("ws"))
      .agg(sum($"n_pieces").as("n"))
      .as[(Timestamp, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch piece sums diverged: ${streamed.diff(batch)} / " +
        s"${batch.diff(streamed)}")
    // static frames and empty vocabularies are rejected eagerly
    assert(Stream.windowedVocabTokenCounts(batchDf, "ts", "text",
      "5 minutes", "10 minutes", vocab).isFailing)
    assert(Stream.windowedVocabTokenCounts(input.toDF.toDF("ts", "text"),
      "ts", "text", "5 minutes", "10 minutes", Seq.empty).isFailing)
  }

  test("windowedArmCounts: drained counts equal batch bit-for-bit; " +
      "per-window SRM finish flags the broken window only") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Stats
    // window 1: a clean 50/50 split; window 2: 75/25 — broken
    val events = Seq.tabulate(200)(i =>
      (ts(i % 5), if (i % 2 == 0) "a" else "b")) ++
      Seq.tabulate(200)(i =>
        (ts(60 + i % 5), if (i % 4 == 0) "b" else "a"))
    val input = MemoryStream[(Timestamp, String)]
    val c = Stream.windowedArmCounts(
      input.toDF.toDF("ts", "arm"), "ts", "10 minutes", "5 minutes",
      "arm").get
    val q = c.writeStream.outputMode("complete").format("memory")
      .queryName("wac_test").start()
    input.addData(events.take(200))
    q.processAllAvailable()
    input.addData(events.drop(200))
    q.processAllAvailable()
    q.stop()
    val drained = spark.table("wac_test")
      .select($"window.start".as("ws"), $"arm", $"n_obs")
    val streamed = drained.as[(Timestamp, String, Long)].collect().toSet
    val batch = events.toDF("ts", "arm")
      .withColumn("ws", window($"ts", "10 minutes")("start"))
      .groupBy("ws", "arm").agg(count(lit(1)).as("n_obs"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(streamed == batch, "stream/batch arm counts diverged")
    val fin = Stats.srmFromCounts(drained,
        Map("a" -> 1.0, "b" -> 1.0), keys = Seq("ws")).get
      .select("ws", "chi2_total").distinct()
      .as[(Timestamp, Double)].collect().toMap
    assert(fin.size == 2)
    // clean 100/100 split: chi2 = 0; broken 150/50: chi2 = 50²/100·2
    assert(fin.values.toSeq.sorted == Seq(0.0, 50.0), s"$fin")
    assert(Stream.windowedArmCounts(events.toDF("ts", "arm"),
      "ts", "10 minutes", "5 minutes", "arm").isFailing)
  }

  test("ivfIndexSink: stream-built index equals batch ivfEncodeWith " +
      "bit-for-bit; a replayed run overwrites idempotently") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Quantize
    val rnd = new scala.util.Random(5L)
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 4 - 2)))
    val df = rows.toDF("vec_id", "vec")
    val coarse = Seq.tabulate(4)(c =>
        (c, Seq.tabulate(8)(i => ((c * 5 + i) % 7 - 3).toFloat)))
      .toDF("cell", "centroid")
    val cb = (for (s <- 0 until 2; c <- 0 until 4) yield
        (s, c, Seq.tabulate(4)(i => ((s * 3 + c * 2 + i) % 5 - 2).toFloat)))
      .toDF("s", "cell", "centroid")
    val batchIdx = Quantize.ivfEncodeWith(df, "vec", "vec_id", coarse, cb,
        m = 2, cells = 4).get
      .as[(Long, Int, Seq[Int])].collect().toSet
    val tmp = java.nio.file.Files.createTempDirectory("ivfsink").toString
    def run(ck: String): Set[(Long, Int, Seq[Int])] = {
      val input = MemoryStream[(Long, Seq[Float])]
      val q = Stream.ivfIndexSink(input.toDF.toDF("vec_id", "vec"),
        s"$tmp/idx", "vec", "vec_id", coarse, cb, m = 2, cells = 4,
        checkpointLocation = s"$tmp/$ck",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).get
      input.addData(rows.take(25))
      q.processAllAvailable()
      input.addData(rows.drop(25))
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(s"$tmp/idx")
        .select($"vec_id", $"cell".cast("int"), $"codes")
        .as[(Long, Int, Seq[Int])].collect().toSet
    }
    val streamed = run("ck1")
    assert(streamed == batchIdx,
      s"stream-built index diverged from batch encode: " +
        s"${streamed.diff(batchIdx)} / ${batchIdx.diff(streamed)}")
    // a second run over the same data (fresh checkpoint, same index
    // path — the crash-replay shape) must OVERWRITE, not duplicate
    val replayed = run("ck2")
    assert(replayed == batchIdx, "replay duplicated or corrupted the index")
    // static frames are rejected
    assert(Stream.ivfIndexSink(df, s"$tmp/idx2", "vec", "vec_id", coarse,
      cb, m = 2, cells = 4, checkpointLocation = s"$tmp/ck3").isFailing)
  }

  test("neardupAgainst: pair survives when its EARLIEST colliding band " +
      "was bucket-capped (ADVICE r10 — batch parity under a hot bucket)") {
    implicit val sqlCtx = spark.sqlContext
    // Fixture found by a search over word-replacement variants of one
    // 30-word base text: refDup is the base text, refHot replaces words
    // 1 and 8, the stream doc replaces word 6. At bands=16/rowsPerBand=4
    // the stream doc collides with refDup in bands {5, 6, 15}; refHot
    // collides with refDup in bands {2, 3, 5} — so with maxBucket = 1
    // the EARLIEST stream match (band 5) sits in a capped bucket and only
    // bands 6/15 survive. A raw earlier-band key-equality predicate
    // vetoes the surviving rows on band 5 and silently loses the pair;
    // the surviving-band predicate keeps it.
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu stone river cloud " +
      "ember").split(" ").toVector
    val refDup = base.mkString(" ")
    val refHot = base.indices.map(i =>
      if (i == 1) "w1x1" else if (i == 8) "w1x8" else base(i)).mkString(" ")
    val sDoc = base.indices.map(i =>
      if (i == 6) "q6" else base(i)).mkString(" ")
    // precondition lock — catches fixture drift if the hash ever moves
    val keyed = graft.operators.Dedup.minhashKeyed(
        graft.operators.Dedup.minhashShingled(
          Seq((0L, refDup), (1L, refHot), (2L, sDoc)).toDF("doc_id", "text"),
          "text", "doc_id", 3), 16, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val cX = (0 until 16).filter(j => keyed(0L)(j) == keyed(1L)(j))
    val cS = (0 until 16).filter(j => keyed(0L)(j) == keyed(2L)(j))
    val cSH = (0 until 16).filter(j => keyed(1L)(j) == keyed(2L)(j))
    assert(cX.nonEmpty && cS.nonEmpty && cX.contains(cS.head) &&
      cS.exists(j => !cX.contains(j)) && cSH.forall(cX.contains),
      s"fixture drifted: cX=$cX cS=$cS cSH=$cSH — search the base text's " +
        "word-replacement variants for a new triple with this band layout")

    val ref = Seq((0L, refDup), (1L, refHot)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = Stream.neardupAgainst(input.toDF.toDF("doc_id", "text"), ref,
      "text", "doc_id", shingleSize = 3, bands = 16, rowsPerBand = 4,
      threshold = 0.7, maxBucket = 1).get
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("neardup_cap_test").start()
    input.addData(Seq((2L, sDoc)))
    q.processAllAvailable()
    q.stop()
    val streamedRows = spark.table("neardup_cap_test")
      .as[(Long, Long, Double)].collect()
    val batch = graft.operators.Dedup.minhashPairsAgainst(
        Seq((2L, sDoc)).toDF("doc_id", "text"), ref, "text", "doc_id",
        shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.7,
        maxBucket = 1).get
      .as[(Long, Long, Double)].collect()
    assert(streamedRows.toSet == batch.toSet,
      s"capped stream/batch parity broken: ${streamedRows.toSet} vs ${batch.toSet}")
    // the pair MUST emit (the old raw-key predicate lost it), exactly once
    assert(streamedRows.map(p => (p._1, p._2)).toSeq == Seq((2L, 0L)),
      s"expected exactly one (2, 0) hit, got: ${streamedRows.toSeq}")
  }

  test("cdcNovelChunks: stream == batch anti-join bit-for-bit across 2 " +
      "micro-batches; shared boilerplate dropped; static frame rejected") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41L)
    def noise(n: Int) = Seq.fill(n)("abcdef" (rnd.nextInt(6))).mkString
    val brnd = new scala.util.Random(77L)
    val boiler = Seq.fill(240)("abcdef" (brnd.nextInt(6))).mkString
    val ref = Seq((100L, noise(150) + boiler), (101L, noise(200)))
      .toDF("doc_id", "text")
    val arriving = Seq((1L, noise(120)), (2L, boiler + noise(60)),
      (3L, noise(90) + boiler + noise(30)))
    val input = MemoryStream[(Long, String)]
    val sdf = input.toDF().toDF("doc_id", "text")
    val novel = Stream.cdcNovelChunks(sdf, ref, "text", "doc_id").get
    val name = "cdc_novel_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = novel.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      input.addData(arriving(0), arriving(1))
      q.processAllAvailable()
      input.addData(arriving(2))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val refHashes = graft.operators.Cdc.chunks(ref, "text", "doc_id").get
      .select("chunk_md5").distinct()
    val want = graft.operators.Cdc.chunks(
        arriving.toDF("doc_id", "text"), "text", "doc_id").get
      .join(refHashes, Seq("chunk_md5"), "left_anti")
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        col("chunk_len"), col("chunk_md5"))
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == want, "stream/batch parity broken")
    // the planted boilerplate must actually drop chunks
    val all = graft.operators.Cdc.chunks(
      arriving.toDF("doc_id", "text"), "text", "doc_id").get.count()
    assert(got.size < all, s"expected drops: kept ${got.size} of $all")
    assert(got.nonEmpty)
    assert(Stream.cdcNovelChunks(ref, ref, "text", "doc_id").isFailing)
  }

  test("windowedBinCounts: drained counts equal batch binning " +
      "bit-for-bit across 2 batches; PSI finisher flags the shift") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Stats
    val rnd = new scala.util.Random(29L)
    val events = Seq.tabulate(400)(i =>
      (ts(i % 40), rnd.nextDouble() * 100))
    val edges = Seq(25.0, 50.0, 75.0)
    val input = MemoryStream[(Timestamp, Double)]
    val h = Stream.windowedBinCounts(input.toDF.toDF("ts", "v"), "ts",
      "10 minutes", "5 minutes", "v", edges).get
    val q = h.writeStream.outputMode("complete").format("memory")
      .queryName("wbc_test").start()
    input.addData(events.take(200))
    q.processAllAvailable()
    input.addData(events.drop(200))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wbc_test")
      .select($"window.start", $"bin", $"n")
      .as[(Timestamp, Int, Long)].collect().toSet
    val batch = events.toDF("ts", "v")
      .withColumn("ws", window($"ts", "10 minutes")("start"))
      .groupBy($"ws", Stats.binExpr("v", edges).as("bin"))
      .agg(count(lit(1)).as("n"))
      .as[(Timestamp, Int, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch bins diverged: ${streamed.diff(batch)}")
    // finish per window vs a shifted reference: totals are defined and
    // positive wherever every bin is populated on both sides
    val ref = Stats.binCounts(
      Seq.fill(100)(10.0).toDF("v")
        .union(Seq.fill(100)(40.0).toDF("v"))
        .union(Seq.fill(100)(60.0).toDF("v"))
        .union(Seq.fill(100)(90.0).toDF("v")),
      "v", edges, "n_ref").get
    val fin = Stats.psiFromCounts(ref,
      spark.table("wbc_test")
        .select($"window.start".as("ws"), $"bin", $"n"),
      nBins = 4, keys = Seq("ws"), curCountCol = "n").get
    val tot = fin.groupBy("ws")
      .agg(max("psi_total")).as[(Timestamp, Option[Double])].collect()
    assert(tot.nonEmpty && tot.forall { case (_, t) =>
      t.forall(_ >= 0.0) })
    // static frames are rejected; bad edges too
    assert(Stream.windowedBinCounts(events.toDF("ts", "v"), "ts",
      "10 minutes", "5 minutes", "v", edges).isFailing)
    assert(Stream.windowedBinCounts(input.toDF.toDF("ts", "v"), "ts",
      "10 minutes", "5 minutes", "v", Seq(2.0, 1.0)).isFailing)
  }

  test("windowedHllSketches: merged streamed sketches estimate exactly " +
      "in sparse mode; static frames rejected") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketch
    val events = Seq.tabulate(500)(i =>
      (ts(i % 30), s"u${i % 97}"))
    val input = MemoryStream[(Timestamp, String)]
    val h = Stream.windowedHllSketches(input.toDF.toDF("ts", "u"), "ts",
      "10 minutes", "5 minutes", "u").get
    val q = h.writeStream.outputMode("complete").format("memory")
      .queryName("whll_test").start()
    input.addData(events.take(250))
    q.processAllAvailable()
    input.addData(events.drop(250))
    q.processAllAvailable()
    q.stop()
    val est = Sketch.hllMergeEstimate(
      spark.table("whll_test"), Nil).get
      .as[Double].head()
    assert(math.round(est) == 97L, s"sparse-mode estimate off: $est")
    assert(Stream.windowedHllSketches(events.toDF("ts", "u"), "ts",
      "10 minutes", "5 minutes", "u").isFailing)
  }
}
