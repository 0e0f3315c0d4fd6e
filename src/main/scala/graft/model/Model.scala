package graft.model

import org.apache.spark.ml.{Estimator, Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.classification.{DecisionTreeClassifier, LinearSVC, RandomForestClassifier}
import org.apache.spark.ml.clustering.{GaussianMixture, KMeans}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.estimator.{AggregateFitPipeline, GraftStandardScaler, Scaler, StringEncoder}
import graft.evaluation.{AssemblyFeature, FeatureColumn}
import graft.functional.{MayFail, Ok}

/** Transformer generators over a frame's schema (reference
  * `model/Feature.scala:39-115`). */
object Features {

  /** A StringEncoder stage per StringType column (skip `ignoreColumns`). */
  def encodeStrings(
      df: DataFrame,
      method: StringEncoder.Method = StringEncoder.Murmur,
      tokeniser: StringEncoder.Tokenizer = StringEncoder.WhiteSpaceToken,
      suffix: String = "",
      ignoreColumns: Set[String] = Set.empty): Pipeline = {
    val stages = df.schema.fields.collect {
      case StructField(c, StringType, _, _) if !ignoreColumns.contains(c) =>
        new StringEncoder(method, tokeniser).setInputCol(c).setOutputCol(c + suffix)
    }
    new Pipeline().setStages(stages.toArray)
  }

  /** A zero-mean/unit-variance scaler per DoubleType column, all fitted
    * from one aggregate. */
  def standardiseNumbers(
      df: DataFrame,
      suffix: String = "",
      ignoreColumns: Set[String] = Set.empty): Pipeline = {
    val stages = df.schema.fields.collect {
      case StructField(c, DoubleType, _, _) if !ignoreColumns.contains(c) =>
        new GraftStandardScaler().setInputCol(c).setOutputCol(c + suffix)
    }
    new AggregateFitPipeline().setStages(stages.toArray)
  }

  /** A ÷sum (optionally log) scaler per DoubleType column, all fitted
    * from one aggregate. */
  def scaleNumbers(
      df: DataFrame,
      normalised: Boolean = true,
      logScale: Boolean = false,
      suffix: String = "",
      ignoreColumns: Set[String] = Set.empty): Pipeline = {
    val stages = df.schema.fields.collect {
      case StructField(c, DoubleType, _, _) if !ignoreColumns.contains(c) =>
        new Scaler().setInputCol(c).setOutputCol(c + suffix)
          .setLogScale(logScale).setNorm(normalised)
    }
    new AggregateFitPipeline().setStages(stages.toArray)
  }

  /** VectorAssembler over every numeric / numeric-array column, sorted by
    * name (reference Feature.scala:99-115). */
  def vectorise(df: DataFrame, ignoreColumns: Set[String] = Set.empty): VectorAssembler = {
    val cols = df.schema.fields.toList
      .sortBy(_.name)
      .filterNot(f => ignoreColumns.contains(f.name))
      .collect {
        case StructField(c, DoubleType | IntegerType | FloatType, _, _) => c
        case StructField(c, ArrayType(DoubleType | FloatType | IntegerType, _), _, _) => c
      }
    new VectorAssembler().setInputCols(cols.toArray).setOutputCol("features")
  }
}

/** Pipeline surgery helpers (reference `model/Pipe.scala:29-91`). */
object Pipe {

  def join(pipes: Pipeline*): MayFail[Pipeline] =
    MayFail(new Pipeline().setStages(pipes.toArray))

  def load(filePath: String): MayFail[PipelineModel] =
    MayFail(PipelineModel.load(filePath))

  def save(filePath: String, pipe: PipelineModel): MayFail[PipelineModel] =
    MayFail { pipe.save(filePath); pipe }

  /** The last estimator of the pipeline, rewrapped (reference Pipe.scala:43-45). */
  def estimator(pipe: Pipeline): MayFail[Pipeline] = MayFail {
    pipe.getStages.collect { case e: Estimator[_] =>
      new Pipeline().setStages(Array(e))
    }.last
  }

  /** The innermost final transformer, recursing through nested
    * PipelineModels (reference Pipe.scala:46-51). */
  def fittedEstimator(pipelineModel: PipelineModel): MayFail[Transformer] =
    pipelineModel.stages.last match {
      case nested: PipelineModel => fittedEstimator(nested)
      case t                     => Ok(t)
    }

  def withoutEstimator(pipe: Pipeline): MayFail[Pipeline] = MayFail {
    new Pipeline().setStages(pipe.getStages.collect { case t: Transformer => t })
  }

  def add(pipe: Pipeline, s: PipelineStage): MayFail[Pipeline] =
    MayFail(new Pipeline().setStages(pipe.getStages :+ s))

  def prepend(pipe: Pipeline, s: PipelineStage): MayFail[Pipeline] =
    MayFail(new Pipeline().setStages(s +: pipe.getStages))
}

/** Preset single-estimator pipelines (reference `model/Preset.scala:21-103`).
  * `svm` uses `ml.classification.LinearSVC` — the reference wraps the
  * deprecated mllib `SVMWithSGD` behind a custom estimator bridge
  * (Preset.scala:65-76); LinearSVC is the supported equivalent and kills
  * the mllib round-trip. `randomForest` is a stub (`NotImplementedError`)
  * upstream (Preset.scala:54-63); implemented here as parity+. */
object Calibrate {

  /** Isotonic score calibration grid (pool-adjacent-violators):
    * fit `IsotonicRegression` on `(scoreCol, labelCol ∈ {0,1})` and
    * return one row per DISTINCT score `(x, calibrated)` — the
    * monotone non-decreasing map closest in L2 to the empirical label
    * rates, the standard post-hoc calibrator a
    * [[graft.operators.Stats.calibrationReport]] gap motivates.
    *
    * Determinism: MLlib aggregates duplicate features (exact integer
    * label sums at unit weight) and runs exact parallel PAV, so the
    * fitted pool means equal the closed-form minimax
    * `max_{j≤i} min_{k≥i} avg(y[j..k])` over the weighted score grid
    * up to last-ulp division noise — the q374 oracle replays that
    * closed form and rounds at 6. Apply the returned grid to new
    * scores with a range join (or `model.transform` directly for the
    * in-JVM path).
    *
    * Scale: MLlib isotonic shuffles the (score, label) PAIRS — but
    * the label is binary and duplicate scores pool, so pass the
    * pre-aggregated grid when scores are discrete; both paths fit in
    * grid memory per partition. */
  def isotonicGrid(
      df: DataFrame,
      scoreCol: String,
      labelCol: String
  ): MayFail[DataFrame] = MayFail {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("x"),
        when(col(labelCol).cast("boolean"), 1.0).otherwise(0.0).as("y"))
    val model = new org.apache.spark.ml.regression.IsotonicRegression()
      .setFeaturesCol("x").setLabelCol("y").setPredictionCol("calibrated")
      .fit(base)
    val grid = base.select(col("x")).distinct()
    model.transform(grid)
      .select(col("x"), round(col("calibrated") + lit(1e-9), 6)
        .as("calibrated"))
  }
}

object Preset {

  def linearReg(
      features: String = "features",
      label: String = "label",
      output: String = "prediction",
      elasticNetParam: Double = 0.0,
      maxIter: Int = 10): Pipeline =
    new Pipeline().setStages(Array(
      new LinearRegression()
        .setFeaturesCol(features).setLabelCol(label).setPredictionCol(output)
        .setElasticNetParam(elasticNetParam).setMaxIter(maxIter)))

  def decisionTree(
      features: String = "features",
      label: String = "label",
      output: String = "prediction",
      impurity: String = "entropy",
      maxDepth: Int = 5): Pipeline =
    new Pipeline().setStages(Array(
      new DecisionTreeClassifier()
        .setFeaturesCol(features).setLabelCol(label).setPredictionCol(output)
        .setImpurity(impurity).setMaxDepth(maxDepth)))

  def randomForest(
      features: String = "features",
      label: String = "label",
      output: String = "prediction",
      numTrees: Int = 20,
      maxDepth: Int = 5): Pipeline =
    new Pipeline().setStages(Array(
      new RandomForestClassifier()
        .setFeaturesCol(features).setLabelCol(label).setPredictionCol(output)
        .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(42L)))

  def svm(
      features: String = "features",
      label: String = "label",
      output: String = "prediction",
      maxIter: Int = 10,
      regParam: Double = 0.1): Pipeline =
    new Pipeline().setStages(Array(
      new LinearSVC()
        .setFeaturesCol(features).setLabelCol(label).setPredictionCol(output)
        .setMaxIter(maxIter).setRegParam(regParam)))

  def kmeans(
      features: String = "features",
      output: String = "cluster",
      k: Int = 2): Pipeline =
    new Pipeline().setStages(Array(
      new KMeans().setFeaturesCol(features).setPredictionCol(output)
        .setK(k).setSeed(42L)))

  def gmm(
      features: String = "features",
      output: String = "cluster",
      k: Int = 2): Pipeline =
    new Pipeline().setStages(Array(
      new GaussianMixture().setFeaturesCol(features).setPredictionCol(output)
        .setK(k).setSeed(42L)))
}

/** All numeric-column feature combinations of size min..max
  * (reference `model/Selector.scala:43-60`). */
class FeatureAssemblyGenerator(
    minFeatureCombination: Int,
    maxFeatureCombination: Int = Int.MaxValue,
    ignoreCols: List[String] = Nil) {

  def genCombinations(df: DataFrame): Iterable[FeatureColumn] = {
    require(minFeatureCombination > 0)
    require(minFeatureCombination <= maxFeatureCombination)
    val featCols = df.schema.fields.toList.collect {
      case StructField(c, DoubleType | IntegerType | FloatType | LongType, _, _)
        if !ignoreCols.contains(c) => c
    }
    val numMax = math.min(maxFeatureCombination, featCols.size)
    (minFeatureCombination to numMax).flatMap { n =>
      featCols.combinations(n).map(AssemblyFeature(_))
    }
  }
}
