package graft.model

import org.apache.spark.graftbridge.JobsOf
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.param.ParamMap
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.estimator._
import graft.evaluation._

/** The Spark work of the training path, pinned as job counts (counts do
  * not vary run to run, timings do), and the exactness of the fold
  * materialisation in `CrossValidation`. */
class TrainingPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val words = Array("red", "green", "blue", "cyan", "pink")
  // 4 partitions; the label is linear in x plus a per-word offset and a small residue
  private lazy val source = spark.sparkContext.parallelize(Seq.tabulate(120) { i =>
    val s = words(i % 5) + (if (i % 3 == 0) " " + words(i * 7 % 5) else "")
    (i.toDouble, (i * 7 % 13).toDouble, (i % 4) * 0.5, s, 2.0 * i + 3.0 * (i % 5) + (i % 7) * 0.1)
  }, 4)
  private lazy val frame = source.toDF("x", "y", "z", "s", "label")
  private lazy val encoded = new StringEncoder().setInputCol("s").setOutputCol("s_enc")
    .fit(frame).transform(frame)
  private lazy val design = SupervisedModelDesign("prediction", "label", Preset.linearReg())
  private val feature = AssemblyFeature(Seq("x", "s_enc"))

  private def names(jobs: Seq[JobsOf.Job]) = jobs.map(_.stageNames.mkString("+")).mkString("; ")

  test("a one-column Murmur fit makes one distributed pass (at most 2 jobs)") {
    val (m, jobs) = JobsOf(spark)(new StringEncoder().setInputCol("s").setOutputCol("e").fit(frame))
    assert(m.getOrDefault(m.hashSpaceParam).length == 5)
    assert(jobs.size <= 2, names(jobs))
  }

  test("standardiseNumbers fits its 3 columns from one aggregate, as each alone would") {
    val pipe = Features.standardiseNumbers(frame, suffix = "_z", ignoreColumns = Set("label"))
    assert(pipe.getStages.length == 3)
    val (fitted, jobs) = JobsOf(spark)(pipe.fit(frame))
    assert(jobs.size <= 2, names(jobs))
    val (_, copyJobs) = JobsOf(spark)(pipe.copy(ParamMap.empty).fit(frame))
    assert(copyJobs.size <= 2, names(copyJobs))
    val together = fitted.stages.map(_.asInstanceOf[GraftStandardScalerModel])
    val alone = Seq("x", "y", "z").map(c =>
      new GraftStandardScaler().setInputCol(c).setOutputCol(c + "_z").fit(frame))
    assert(together.map(m => (m.getInputCol, m.mean, m.std)).toSeq ==
      alone.map(m => (m.getInputCol, m.mean, m.std)))
  }

  test("VectorAssembler over an encoded column runs no job") {
    val input = encoded // the encoder's fit runs outside the count
    val (_, jobs) = JobsOf(spark)(
      new VectorAssembler().setInputCols(Array("x", "s_enc")).setOutputCol("features")
        .transform(input))
    assert(jobs.isEmpty, names(jobs))
  }

  test("CrossValidation reads its input once per fold and runs no VectorAssembler probe") {
    val input = encoded // the encoder's fit runs outside the count
    val (_, jobs) = JobsOf(spark)(CrossValidation(RMSE, 3).run(input, design, feature).get)
    assert(!jobs.exists(_.stageNames.exists(_.contains("VectorAssembler"))), names(jobs))
    assert(jobs.count(_.rddIds.contains(source.id)) == 3, names(jobs))
  }

  test("CrossValidation equals the mean over lazy randomSplit folds, to the last bit") {
    val splits = encoded.randomSplit(Array.fill(3)(1.0 / 3), 42L)
    val reference = (0 until 3).map { i =>
      val train = splits.zipWithIndex.filter(_._2 != i).map(_._1).reduce(_ union _)
      design.toSpecimen(feature, train).score(splits(i), RMSE).get
    }.sum / 3.0
    assert(CrossValidation(RMSE, 3).run(encoded, design, feature).get == reference)
  }
}
