package graft.operators

import org.apache.spark.graftbridge.JobsOf
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The Spark work of the `curation` ops, pinned as jobs per call on small
  * fixed inputs, as GraphLoopSpec pins the iterative operators. Each call
  * is counted together with one `count()` of its result. A bound may only
  * fall, where a change removed a job. */
class CurationJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // 0 and 1 are exact dups; 2 is a near-dup of 0 (one token changed);
  // 3 shares a run of words with the benchmark; 4 is tiny. RDD-backed,
  // so no op folds into a local relation on the driver
  private lazy val docs = spark.sparkContext.parallelize(Seq(
    (0L, (1 to 50).map(i => s"w$i").mkString(" ")),
    (1L, (1 to 50).map(i => s"w$i").mkString(" ")),
    (2L, ((1 to 49).map(i => s"w$i") :+ "CHANGED").mkString(" ")),
    (3L, (1 to 50).map(i => s"unrelated$i").mkString(" ")),
    (4L, "tiny doc")), 2).toDF("doc_id", "text")
  private lazy val benchmark = spark.sparkContext.parallelize(Seq(
    (1 to 20).map(i => s"unrelated$i").mkString(" "),
    (10 to 20).map(i => s"unrelated$i").mkString(" ")), 2).toDF("text")

  /** Jobs per call, each the same over five runs on 2 and on 4 cores at
    * the commit the spec was written against. */
  private val calls: Seq[(String, Int, () => DataFrame)] = Seq(
    ("gopherFlags", 2, () => Quality.gopherFlags(docs, "text", "doc_id").get),
    ("exact", 3, () => Dedup.exact(docs, Seq("text"), "doc_id").get),
    ("minhashDedup", 13, () => Dedup.minhashDedup(docs, "text", "doc_id").get),
    ("contaminationFlags", 4, () =>
      Dedup.contaminationFlags(docs, benchmark, "text", "doc_id").get))

  for ((name, bound, call) <- calls)
    test(s"$name runs at most $bound jobs per call") {
      val (_, jobs) = JobsOf(spark)(call().count())
      info(s"$name: ${jobs.size} jobs")
      assert(jobs.size <= bound, jobs.map(_.stageNames.mkString("+")).mkString("; "))
    }
}
