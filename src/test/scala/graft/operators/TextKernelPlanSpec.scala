package graft.operators

import scala.concurrent.duration._

import org.apache.spark.graftbridge.{ExecutedPlans, RddBlocks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.{GopherCounts, MinHashBandKeysFromHashes}

/** Pins that curation's per-document text kernels run once per document:
  * counted over the physical plans a call executes, eager checkpoints
  * included, after the adaptive re-plans. */
class TextKernelPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // 0 and 1 are exact dups; 2 is a near-dup of 0 (one token changed);
  // 3 and 4 are unrelated.
  private val rows = Seq(
    (0L, (1 to 50).map(i => s"w$i").mkString(" ")),
    (1L, (1 to 50).map(i => s"w$i").mkString(" ")),
    (2L, ((1 to 49).map(i => s"w$i") :+ "CHANGED").mkString(" ")),
    (3L, (1 to 50).map(i => s"unrelated$i").mkString(" ")),
    (4L, "tiny doc"))
  // RDD-backed, so the optimizer cannot fold the kernels into a local
  // relation on the driver and they run in the executed plans
  private lazy val docs = spark.sparkContext.parallelize(rows, 2).toDF("doc_id", "text")

  private object Walk extends AdaptiveSparkPlanHelper

  /** Plan nodes, over all `plans` and their query stages and subqueries,
    * with an expression that contains a match of `hit`. */
  private def sites(plans: Seq[SparkPlan])(hit: Expression => Boolean): Int =
    plans.map(p => Walk.collectWithSubqueries(p) {
      case n if n.expressions.exists(_.exists(hit)) => n
    }.size).sum

  private val bandKeys: Expression => Boolean = _.isInstanceOf[MinHashBandKeysFromHashes]

  private def keptIds(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  test("minhashDedup evaluates the band-key kernel at one plan site") {
    val (kept, plans) = ExecutedPlans(spark) {
      keptIds(Dedup.minhashDedup(docs, "text", "doc_id", threshold = 0.5).get)
    }
    assert(kept == Set(0L, 3L, 4L))
    assert(sites(plans)(bandKeys) == 1)
  }

  test("the transitive minhash dedups evaluate the band-key kernel at one plan site") {
    val quality = docs.withColumn("quality", -col("doc_id"))
    val calls: Seq[(String, () => Set[Long])] = Seq(
      "minhashDedupTransitive" -> (() => keptIds(
        Dedup.minhashDedupTransitive(docs, "text", "doc_id", threshold = 0.5).get)),
      "minhashDedupTransitiveKeepBest" -> (() => keptIds(
        Dedup.minhashDedupTransitiveKeepBest(quality, "text", "doc_id", "quality",
          threshold = 0.5).get)))
    for ((name, call) <- calls) {
      val (kept, plans) = ExecutedPlans(spark)(call())
      assert(kept.size == 3, s"$name kept $kept")
      assert(sites(plans)(bandKeys) == 1, name)
    }
  }

  test("gopherFlags counts each document in one native pass, with no lambda") {
    val text = spark.sparkContext.parallelize(
      rows :+ ((5L, "- the data\n• and more...\n# to be")), 2).toDF("doc_id", "text")
    val (flags, plans) = ExecutedPlans(spark) {
      Quality.gopherFlags(text, "text", "doc_id", minWords = 2L).get.collect()
    }
    assert(flags.length == 6)
    assert(sites(plans)(_.isInstanceOf[LambdaFunction]) == 0)
    assert(sites(plans)(_.isInstanceOf[GopherCounts]) == 1)
  }

  test("minhashDedup and minhashPairs(materialize = true) leave no RDD blocks") {
    // counted as the block manager's RDD blocks (see GraphSpec's leak
    // test); releaseCheckpoint does not block, hence `eventually`. The
    // input is a local relation, so the first RDD in minhashDedup's
    // result plan is its pair checkpoint
    val docs = rows.toDF("doc_id", "text")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "minhashPairs" -> (() => Dedup.minhashPairs(docs, "text", "doc_id",
        threshold = 0.5, materialize = true).get),
      "minhashDedup" -> (() => Dedup.minhashDedup(docs, "text", "doc_id",
        threshold = 0.5).get))
    for ((name, call) <- calls) {
      val blocks = RddBlocks(spark)
      val out = call()
      out.count()
      graft.physical.Optimise.releaseCheckpoint(out)
      eventually(timeout(20.seconds)) {
        assert(RddBlocks(spark) <= blocks, s"$name must pin only its result")
      }
    }
  }
}
