package graft.operators

import org.apache.spark.graftbridge.JobsOf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The Spark work of the iterative graph and behaviour operators, pinned
  * as jobs per call on small fixed inputs (counts do not vary run to run,
  * timings do). Each call is counted together with one `count()` of its
  * result, so work moved from the call into the returned frame still
  * counts. A bound may only fall, where a change removed a job. */
class GraphLoopSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // two triangles joined by a bridge, a 4-clique, a 6-hop tail and a
  // separate pair: peeling, triangles, several components and depth
  private lazy val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L),
    (7L, 8L), (7L, 9L), (7L, 10L), (8L, 9L), (8L, 10L), (9L, 10L), (6L, 7L),
    (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L),
    (20L, 21L)).toDF("s", "d")
  private lazy val sym = edges.union(edges.select($"d", $"s"))
  private lazy val seeds = Seq(1L).toDF("n")
  private lazy val labels = Seq((1L, "a"), (16L, "b")).toDF("n", "label")
  private lazy val events = Seq(
    (1L, 1L, 10L, "A"), (2L, 1L, 20L, "conv"), (8L, 1L, 30L, "B"),
    (3L, 2L, 10L, "A"), (4L, 2L, 20L, "B"), (5L, 2L, 30L, "conv"),
    (6L, 3L, 10L, "B"), (7L, 4L, 10L, "conv"))
    .toDF("event_id", "user_id", "epoch", "t")
    .withColumn("ts", timestamp_seconds(col("epoch"))).drop("epoch")

  /** Jobs per call, each the same over five runs at the commit the spec
    * was written against. `louvain` is left out: its count varied from
    * 171 to 176 over those runs. */
  private val calls: Seq[(String, Int, () => DataFrame)] = Seq(
    ("pageRank", 41, () => Graph.pageRank(edges, "s", "d", iterations = 3).get),
    ("ssspWeighted", 67, () => Graph.ssspWeighted(edges.withColumn("w", lit(1.0)),
      "s", "d", "w", seeds, "n").get),
    ("kCore", 43, () => Graph.kCore(sym, "s", "d", k = 2).get),
    ("coreNumber", 51, () => Graph.coreNumber(edges, "s", "d").get),
    ("kTruss", 24, () => Graph.kTruss(edges, "s", "d", k = 3).get),
    ("connectedComponentsStar", 76, () =>
      Graph.connectedComponentsStar(edges, "s", "d").get),
    ("connectedComponents(maxDriverEdges = 0)", 91, () =>
      Graph.connectedComponents(edges, "s", "d", maxIter = 20, maxDriverEdges = 0L).get),
    ("labelPropagate", 54, () =>
      Graph.labelPropagate(edges, "s", "d", labels, "n", "label", maxRounds = 8).get),
    ("louvainMove", 63, () => Graph.louvainMove(edges, "s", "d", passes = 4).get),
    ("markovAttribution", 40, () => Behavior.markovAttribution(events,
      "ts", "event_id", "user_id", "t", "conv", iterations = 5).get),
    ("bfsDepths", 77, () => Graph.bfsDepths(edges, "s", "d", seeds, "n").get),
    ("harmonicCloseness", 54, () =>
      Graph.harmonicCloseness(sym, "s", "d", seeds, "n").get),
    ("harmonicCentrality", 53, () =>
      Graph.harmonicCentrality(sym, "s", "d", seeds, "n").get))

  for ((name, bound, call) <- calls)
    test(s"$name runs at most $bound jobs per call") {
      val (_, jobs) = JobsOf(spark)(call().count())
      info(s"$name: ${jobs.size} jobs")
      assert(jobs.size <= bound, jobs.map(_.stageNames.mkString("+")).mkString("; "))
    }
}
