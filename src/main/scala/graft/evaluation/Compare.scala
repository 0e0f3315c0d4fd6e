package graft.evaluation

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.functional.{Fail, MayFail}
import graft.physical.Optimise

/** Comparator / validation / selection suite (reference
  * `evaluation/{FeatureCompare,FeatureCompareVector,ModelCompare,
  * Validation,FeatureSelect}.scala`).
  *
  * The reference drives all candidate loops sequentially on the driver;
  * behavior preserved (each candidate fit is itself a distributed job —
  * candidate-level parallelism would contend for the same executors).
  */
trait BaseCompare[A <: BaseMeasure[_]] {
  val measure: A
  def bestOf(
      design: ModelDesign,
      comb: Iterable[FeatureColumn],
      df: DataFrame): Option[(Double, FeatureColumn, Specimen)]
}

/** Train a specimen per candidate feature; pick best by measure polarity. */
trait FeatureCompare[A <: Measure] extends BaseCompare[A] {

  protected def bestMeasures(measures: Iterable[(Double, Specimen)]): Option[(Double, Specimen)] =
    measures.reduceLeftOption { (a, b) => if (measure.isBetter(a._1, b._1)) a else b }

  def allOf(
      design: ModelDesign,
      comb: Iterable[FeatureColumn],
      df: DataFrame): Iterable[(Double, Specimen)] =
    comb.flatMap { c =>
      val specimen = design.toSpecimen(c, df)
      specimen.score(df, measure).toOption.map(score => (score, specimen))
    }

  override def bestOf(
      design: ModelDesign,
      comb: Iterable[FeatureColumn],
      df: DataFrame): Option[(Double, FeatureColumn, Specimen)] =
    bestMeasures(allOf(design, comb, df)).map { case (score, specimen) =>
      (score, specimen.featureCol, specimen)
    }
}

class DummyFeatureCompare(override val measure: Measure)
    extends FeatureCompare[Measure]
class RegressionFeatureCompare(override val measure: RegressionMeasure)
    extends FeatureCompare[RegressionMeasure]
class ClassificationFeatureCompare(override val measure: ClassificationMeasure)
    extends FeatureCompare[ClassificationMeasure]

/** One model over the assembled vector; per-column score vector
  * (reference `FeatureCompareVector.scala:19-61`). */
trait FeatureCompareVector[A <: MeasureVector] extends BaseCompare[A] {

  def allOf(
      design: ModelDesign,
      comb: Iterable[FeatureColumn],
      df: DataFrame): (Array[(Double, String)], Specimen) = {
    val features = AssemblyFeature.fromIterable(comb)
    val specimen = design.toSpecimen(features, df)
    specimen.scoreVector(df, measure).toOption match {
      case Some(scoreVector) =>
        require(features.asArray.length == scoreVector.length)
        (scoreVector.zip(features.asArray), specimen)
      case None => (Array.empty, specimen)
    }
  }

  override def bestOf(
      design: ModelDesign,
      comb: Iterable[FeatureColumn],
      df: DataFrame): Option[(Double, FeatureColumn, Specimen)] = {
    val (zipped, specimen) = allOf(design, comb, df)
    if (zipped.isEmpty) None
    else {
      val (bestScore, bestFeat) = measure.findBest(zipped)
      Some((bestScore, Feature(bestFeat), specimen))
    }
  }
}

final case class DummyFeatureCompareVector(override val measure: MeasureVector)
    extends FeatureCompareVector[MeasureVector]
final case class RegressionFeatureCompareVector(override val measure: RegressionMeasureVector)
    extends FeatureCompareVector[RegressionMeasureVector]

/** Score competing designs on one feature (reference `ModelCompare.scala:
  * 37-77`). */
trait ModelCompare[A <: Measure] {
  val measure: A
  val feature: FeatureColumn

  def allOf(df: DataFrame, models: Iterable[ModelDesign]): Iterable[(Double, Specimen)] =
    models.flatMap { design =>
      val specimen = design.toSpecimen(feature, df)
      specimen.score(df, measure).toOption.map(score => (score, specimen))
    }

  def bestOf(df: DataFrame, models: Iterable[ModelDesign]): Option[(Double, Specimen)] =
    allOf(df, models).reduceLeftOption { (a, b) =>
      if (measure.isBetter(a._1, b._1)) a else b
    }
}

class RegressionModelCompare[A <: RegressionMeasure](
    override val measure: A, override val feature: FeatureColumn)
  extends ModelCompare[A]
class ClassificationModelCompare[A <: ClassificationMeasure](
    override val measure: A, override val feature: FeatureColumn)
  extends ModelCompare[A]

/** Cluster-measure variant (reference ModelCompare.scala:75-77): scores
  * go through `scoreCluster` since cluster measures read the features
  * vector + assignment column rather than prediction/label. */
class ClusterModelCompare[A <: ClusterMeasure](
    val measure: A, val feature: FeatureColumn) {

  def allOf(df: DataFrame, models: Iterable[ModelDesign]): Iterable[(Double, Specimen)] =
    models.flatMap { design =>
      val specimen = design.toSpecimen(feature, df)
      specimen.scoreCluster(df, measure).toOption.map(score => (score, specimen))
    }

  def bestOf(df: DataFrame, models: Iterable[ModelDesign]): Option[(Double, Specimen)] =
    allOf(df, models).reduceLeftOption { (a, b) =>
      if (measure.isBetter(a._1, b._1)) a else b
    }
}

/** Validation strategies (reference `Validation.scala:34-75`). */
trait Validation[M <: Measure] {
  val measure: M
  def run(df: DataFrame, design: ModelDesign, feature: FeatureColumn): MayFail[Double]
}

/** Equal random folds, mean of per-fold scores (reference Validation.scala:
  * 34-54 — folds reassembled by `reduce(_ union _)`). Each fold is
  * materialised once, so the fits and scores read it instead of
  * re-sorting and re-sampling the whole input; a checkpointed fold holds
  * the same rows in the same partitions, so the scores are unchanged. */
final case class CrossValidation[M <: Measure](measure: M, nFolds: Int = 3)
    extends Validation[M] {
  override def run(df: DataFrame, design: ModelDesign, feature: FeatureColumn): MayFail[Double] =
    MayFail {
      val folds = ArrayBuffer.empty[DataFrame]
      try {
        df.randomSplit(Array.fill(nFolds)(1.0 / nFolds), seed = 42L)
          .foreach(split => folds += split.localCheckpoint(eager = true))
        val scores = folds.indices.map { i =>
          val train = folds.zipWithIndex.filter(_._2 != i).map(_._1).reduce(_ union _)
          design.toSpecimen(feature, train).score(folds(i), measure).get
        }
        scores.sum / nFolds.toDouble
      } finally folds.foreach(Optimise.releaseCheckpoint)
    }
}

/** Train/test ratio split; ratio validated (reference Validation.scala:56-75). */
final case class SplitValidation[M <: Measure](measure: M, trainRatio: Float = 0.9f)
    extends Validation[M] {
  override def run(df: DataFrame, design: ModelDesign, feature: FeatureColumn): MayFail[Double] =
    if (trainRatio <= 0.0f || trainRatio >= 1.0f)
      Fail(new AssertionError(
        s"SplitValidation fails with out-of-range training ratio : $trainRatio"))
    else MayFail {
      val Array(train, test) =
        df.randomSplit(Array(trainRatio.toDouble, 1.0 - trainRatio), seed = 42L)
      design.toSpecimen(feature, train).score(test, measure).get
    }
}

/** Feature-selection strategies (reference `FeatureSelect.scala:10-90`). */
sealed trait Significance { val zReject: Double }
case object AllSignificance extends Significance { override val zReject: Double = Double.MinValue }
case object Significance50p extends Significance { override val zReject = 0.674 }
case object Significance80p extends Significance { override val zReject = 1.282 }
case object Significance90p extends Significance { override val zReject = 1.645 }
case object Significance95p extends Significance { override val zReject = 1.960 }
case object Significance98p extends Significance { override val zReject = 2.326 }
case object Significance99p extends Significance { override val zReject = 2.576 }

trait FeatureSelector {
  def selectSubset(
      df: DataFrame,
      model: ModelDesign,
      features: Iterable[FeatureColumn]): Iterable[(Double, FeatureColumn)]
}

/** Keep features whose regression z-score clears the significance bar. */
final case class ZScoreFeatureSelector(sig: Significance) extends FeatureSelector {
  override def selectSubset(
      df: DataFrame,
      model: ModelDesign,
      features: Iterable[FeatureColumn]): Iterable[(Double, FeatureColumn)] = {
    val (scores, _) = RegressionFeatureCompareVector(ZScore).allOf(model, features, df)
    scores.collect { case (z, c) if z >= sig.zReject => (z, Feature(c): FeatureColumn) }
  }
}

/** Keep the top-N features by a scalar or vector measure. */
final case class BestNFeaturesSelector(top: Int, measure: BaseMeasure[_])
    extends FeatureSelector {
  override def selectSubset(
      df: DataFrame,
      model: ModelDesign,
      features: Iterable[FeatureColumn]): Iterable[(Double, FeatureColumn)] =
    measure match {
      case v: MeasureVector =>
        val (scores, _) = DummyFeatureCompareVector(v).allOf(model, features, df)
        scores.sortBy(-_._1).take(top).map { case (s, c) => (s, Feature(c): FeatureColumn) }
      case m: Measure =>
        new DummyFeatureCompare(m).allOf(model, features, df).toList
          .sortWith((a, b) => m.isBetter(a._1, b._1))
          .take(top).map { case (s, sp) => (s, sp.featureCol) }
      case other =>
        throw new IllegalArgumentException(
          s"BestNFeaturesSelector needs a Measure or MeasureVector, got $other")
    }
}
