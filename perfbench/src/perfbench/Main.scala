package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload in one process: set-up (repeated), warm-up at full
  * input size until round time stops falling, then measured rounds for a
  * fixed time. One client, closed loop. Prints the round-time series and a
  * `RESULT` line with every metric and its unit.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *   --work DIR [--tiny 1] */
object Main {
  /** Spark task slots; fixed so every host runs the same plan. */
  val Cores = 2
  val Setups = 3
  /** Warm-up ends once a round is within this share of the fastest
    * earlier warm-up round. */
  val Settled = 0.97

  final case class RoundResult(id: Int, wall: Double, ops: Seq[(String, Double)])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try { run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", opt("work"), opt.get("tiny").contains("1")); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Least-squares slope of `ys` against their index. */
  private def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val mx = (ys.size - 1) / 2.0
      val my = ys.sum / ys.size
      ys.indices.map(i => (i - mx) * (ys(i) - my)).sum / ys.indices.map(i => (i - mx) * (i - mx)).sum
    }

  private def fmt(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      tiny: Boolean): Unit = {
    require(Workloads.Names.contains(name), s"unknown workload $name")
    var spark: SparkSession = null
    var tracer: Tracer = null
    var wl: Workload = null
    var attempted = 0
    var failed = 0
    var roundId = 0
    val input = new File(work, "input").getPath

    def round(): RoundResult = {
      roundId += 1
      tracer.round = roundId
      val times = mutable.ArrayBuffer[(String, Double)]()
      val checks = mutable.ArrayBuffer[(String, Workload.Check)]()
      val t0 = System.nanoTime()
      tracer("round") {
        wl.ops.foreach { case (op, body) =>
          val s = System.nanoTime()
          val check: Workload.Check =
            try tracer(s"op.$op")(body())
            catch { case NonFatal(e) => () => Some(s"threw $e") }
          times += op -> (System.nanoTime() - s) / 1e9
          checks += op -> check
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val bad = checks.flatMap { case (op, c) =>
        (try c() catch { case NonFatal(e) => Some(s"check threw $e") }).map(op -> _)
      }
      bad.foreach { case (op, why) => System.err.println(s"[perfbench] round $roundId $op FAILED: $why") }
      wl.endRound()
      attempted += times.size
      failed += bad.size
      RoundResult(roundId, wall, times.toSeq)
    }

    // 1-2. set-up: session, inputs and one cold round, several times
    val setupTimes = mutable.ArrayBuffer[Double]()
    val setupParts = mutable.ArrayBuffer[String]()
    val coldReads = mutable.ArrayBuffer[Double]()
    for (_ <- 1 to (if (tiny) 1 else Setups)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(Cores)
      spark.sparkContext.setLogLevel("ERROR")
      val session = (System.nanoTime() - t0) / 1e9
      tracer = new Tracer(spark.sparkContext, trace)
      wl = Workloads(name, seed, tiny, tracer)(spark)
      wl.prepare(input)
      val prepared = (System.nanoTime() - t0) / 1e9
      val cold = round()
      setupTimes += prepared + cold.wall
      setupParts += f"session=$session%.2f inputs=${prepared - session}%.2f cold_round=${cold.wall}%.2f"
      val self = Layers.selfSeconds(tracer.spans.toSeq)
      coldReads += tracer.spans.filter(s => s.round == cold.id && s.name == "physical.read")
        .map(s => self(s.id)).sum
    }

    // 3. warm-up at full input size until round time stops falling: after
    // two rounds and `seconds`, the latest round is no faster than the best
    // earlier one; at most twice as long as the measurement
    val warm = mutable.ArrayBuffer[Double]()
    val warmStart = System.nanoTime()
    var settled = tiny
    while (!settled) {
      warm += round().wall
      val elapsed = (System.nanoTime() - warmStart) / 1e9
      settled = warm.size >= 2 &&
        ((elapsed >= seconds && warm.last >= Settled * warm.init.min) || elapsed >= 2 * seconds)
    }

    // 4. measured rounds; a traced run alternates traced and untraced rounds
    val plain = mutable.ArrayBuffer[RoundResult]()
    val traced = mutable.ArrayBuffer[RoundResult]()
    val measureStart = System.nanoTime()
    // enough rounds for a median; a traced run splits them between both kinds
    val minRounds = if (tiny) 1 else if (trace) 2 else 3
    while ((System.nanoTime() - measureStart) / 1e9 < seconds || plain.size < minRounds ||
        (trace && traced.size < minRounds)) {
      val on = trace && plain.size > traced.size
      tracer.enabled = on
      val r = round()
      (if (on) traced else plain) += r
    }
    tracer.enabled = false

    val walls = plain.map(_.wall).toSeq
    val p50 = median(walls)
    println(s"[perfbench] workload=$name seed=$seed cores=$Cores trace=${if (trace) 1 else 0}")
    println(s"[perfbench] setup_s per set-up ${fmt(setupTimes.toSeq)}: ${setupParts.mkString("; ")}")
    println(s"[perfbench] warm-up rounds ${fmt(warm.toSeq)}")
    println(s"[perfbench] measured rounds=${walls.size} ${fmt(walls)}")
    println(f"[perfbench] slope over measured rounds ${slope(walls) / p50 * 100}%.2f%% of median per round")
    val opMedians = wl.ops.map(_._1).map(op =>
      op -> median(plain.toSeq.flatMap(_.ops.collect { case (`op`, s) => s })))
    println(s"[perfbench] result digests ${Workloads.firstDigest.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    println(s"[perfbench] op medians ${opMedians.map { case (o, s) => f"$o=$s%.3f" }.mkString(" ")}")

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    metrics("setup_s") = (median(setupTimes.toSeq), "s")
    metrics("round_p50_s") = (p50, "s")
    metrics("op_geomean_s") = (math.exp(opMedians.map(o => math.log(o._2)).sum / opMedians.size), "s")
    metrics("rounds_per_min") = (60.0 * walls.size / walls.sum, "1/min")
    metrics("output_ok") = ((attempted - failed).toDouble / attempted, "ratio")

    if (trace) {
      tracer.drain()
      layerMetrics(tracer, traced.map(_.id).toSet, median(traced.map(_.wall).toSeq) - p50,
        median(coldReads.toSeq), wl).foreach { case (k, v) => metrics(k) = v }
      tracer.write(new File(work, s"spans-$name-$seed.tsv").getPath)
    }
    spark.stop()

    val json = metrics.map { case (k, (v, u)) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $value, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""RESULT {"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
  }

  /** Layer spans whose self time is reported as `<name>_s`. */
  val LayerSpans = Seq("physical.relational", "physical.write",
    "operators.quality", "operators.dedup_exact", "operators.dedup_minhash",
    "operators.contamination", "operators.graph.pagerank", "operators.graph.components",
    "operators.graph.sssp", "operators.graph.louvain", "estimator.encode_fit",
    "estimator.scale_fit", "model.fit", "model.transform", "evaluation.score",
    "evaluation.crossval")

  private def layerMetrics(tracer: Tracer, rounds: Set[Int], overhead: Double,
      coldRead: Double, wl: Workload): Seq[(String, (Double, String))] = {
    val spans = tracer.spans.toSeq.filter(s => rounds.contains(s.round))
    val self = Layers.selfSeconds(spans)
    val byRound = spans.groupBy(_.round).values.toSeq
    def perRound(f: Seq[Span] => Double): Double = median(byRound.map(f))
    def counters(ss: Seq[Span]): Counters = {
      val c = new Counters
      ss.foreach(s => c.add(tracer.countersOf(s)))
      c
    }
    def spark(f: Counters => Double): Double = perRound(ss => f(counters(ss)))
    def root(ss: Seq[Span]): Span = ss.find(_.name == "round").get
    val jobs = tracer.listener.intervals
    val graphCalls = spans.filter(_.name.startsWith("operators.graph."))
    val out = mutable.ArrayBuffer[(String, (Double, String))]()
    LayerSpans.foreach { n =>
      out += s"${n}_s" -> (perRound(_.filter(_.name == n).map(s => self(s.id)).sum), "s")
    }
    out += "physical.read_s" -> (coldRead, "s")
    out += "driver.plan_s" -> (perRound { ss =>
      val r = root(ss)
      Layers.idleSeconds(tracer.toEpochMs(r.startNs), tracer.toEpochMs(r.endNs), jobs)
    }, "s")
    out += "spark.jobs" -> (spark(_.jobs.toDouble), "count")
    out += "spark.stages" -> (spark(_.stages.toDouble), "count")
    out += "spark.tasks" -> (spark(_.tasks.toDouble), "count")
    out += "spark.tasks_failed" -> (spark(_.tasksFailed.toDouble), "count")
    out += "spark.scheduler_delay_s" -> (spark(_.schedDelayMs / 1e3), "s")
    out += "spark.executor_run_s" -> (spark(_.runMs / 1e3), "s")
    out += "spark.executor_cpu_s" -> (spark(_.cpuNs / 1e9), "s")
    out += "spark.gc_s" -> (spark(_.gcMs / 1e3), "s")
    out += "spark.shuffle_write_mb" -> (spark(_.shuffleWriteB / 1e6), "MB")
    out += "spark.shuffle_read_mb" -> (spark(_.shuffleReadB / 1e6), "MB")
    out += "spark.spill_mb" -> (spark(_.spillB / 1e6), "MB")
    out += "spark.core_util" -> (perRound(ss => counters(ss).runMs / 1e3 / (root(ss).seconds * Cores)),
      "ratio")
    out += "operators.graph.jobs_per_call" -> ((if (graphCalls.isEmpty) 0.0
      else counters(graphCalls).jobs.toDouble / graphCalls.size), "count")
    val stats = wl.stats
    Seq("physical.write_files" -> "count", "physical.write_mb" -> "MB",
      "operators.dedup.recall" -> "ratio").foreach { case (k, u) =>
      out += k -> (stats.get(k).fold(0.0)(v => median(v.toSeq)), u)
    }
    out += "operators.dedup.pair_precision" ->
      (wl.finish().getOrElse("operators.dedup.pair_precision", 0.0), "ratio")
    out += "trace.overhead_s" -> (overhead, "s")
    out.toSeq
  }
}
