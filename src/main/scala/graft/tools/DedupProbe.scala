package graft.tools

import org.apache.spark.sql.functions._

/** q65 watch phase split (r13 verdict ask #5): time the
  * `minhashDedupTransitive` chain's phases separately, min-of-N —
  *
  *  1. `pairs`    — the MinHash-LSH pair pipeline (shingle, band,
  *                  candidate join, exact-Jaccard verify) to a count.
  *  2. `cluster`  — `duplicateClusters` over a PRE-CHECKPOINTED pair
  *                  frame: edge build + count, driver union-find (or
  *                  propagation), label materialization.
  *  3. `emit`     — the representative anti-join + the q65 gate's
  *                  final (lang) aggregation over a pre-computed label
  *                  frame.
  *  4. `full`     — the whole q65 gate, for cross-checking the sum.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… runMain graft.tools.DedupProbe [runs]`.
  */
object DedupProbe {
  def main(args: Array[String]): Unit = {
    val runs = args.headOption.map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def minOf(name: String)(f: => Long): Unit = {
      f // warmup
      val times = (0 until runs).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[dedupprobe] $name%-8s min=${times.map(_._1).min}%.3f " +
        f"runs=${times.map(t => f"${t._1}%.3f").mkString(",")} " +
        f"rows=${times.head._2}")
    }

    minOf("pairs")(graft.operators.Dedup.minhashPairs(
      docs, "text", "doc_id", threshold = 0.5).get.count())
    // phase 2 on a pinned pair frame: the cluster phase must not
    // re-execute the LSH pipeline (duplicateClusters checkpoints
    // internally, but its FIRST materialization would otherwise pay
    // for phase 1 again)
    val pinned = graft.operators.Dedup.minhashPairs(
      docs, "text", "doc_id", threshold = 0.5).get.localCheckpoint(true)
    minOf("cluster")(graft.operators.Dedup.duplicateClusters(pinned)
      .get.count())
    val labels = graft.operators.Dedup.duplicateClusters(pinned).get
      .localCheckpoint(true)
    minOf("emit")({
      val toDrop = labels.filter(col("cluster") =!= col("id"))
        .select(col("id").as("doc_id"))
      docs.join(toDrop, Seq("doc_id"), "left_anti")
        .groupBy("lang").agg(count(lit(1))).count()
    })
    minOf("full")(graft.SparkEntry.queries("q65_dedup_transitive")(
      spark, sfDir).count())
    println(f"[dedupprobe] sched_cal=${graft.Bench.schedCalibration(spark, 5)}%.3f" +
      f" cpu_cal=${graft.Bench.cpuCalibration(3)}%.3f")
    spark.stop()
  }
}
