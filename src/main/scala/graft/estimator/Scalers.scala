package graft.estimator

import org.apache.spark.ml.Model
import org.apache.spark.ml.param.{BooleanParam, DoubleParam, ParamMap}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Sum-normalising scaler (reference `estimator/Scaler.scala:33-127`):
  * `x / Σx`, optionally followed by natural log. Semantics preserved:
  * with `norm=false` the input passes through unscaled; `log(x≤0)` yields
  * null (reference tests read those back as 0.0 on parquet round-trip).
  * Fit is one `agg(sum, min)`, shared with every other [[AggregateFit]]
  * stage of an [[AggregateFitPipeline]] — the reference collects the
  * whole column to the driver (Scaler.scala:56), which would OOM at scale.
  *
  * Fitted state lives in Params so `Pipeline.save/load` round-trips the
  * model through the stock `DefaultParams` writers.
  */
class Scaler(override val uid: String)
  extends AggregateFit[ScalerModel]
  with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("Scaler"))

  final val logScale: BooleanParam =
    new BooleanParam(this, "logScale", "apply natural log after scaling")
  final val norm: BooleanParam =
    new BooleanParam(this, "norm", "divide by the column sum")
  setDefault(logScale -> false, norm -> true)

  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setLogScale(value: Boolean): this.type = set(logScale, value)
  def setNorm(value: Boolean): this.type = set(norm, value)

  override def copy(extra: ParamMap): this.type = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    schema.add($(outputCol), DoubleType, nullable = true)

  override protected def aggregates: Seq[Column] =
    if ($(norm)) Seq(sum(col($(inputCol)).cast("double")), min(col($(inputCol)).cast("double")))
    else Nil

  override protected def fromAggregates(values: Row): ScalerModel = {
    // empty / all-null input sums to SQL NULL — treat as 0 (pass-through)
    def orZero(i: Int) = if (values.length <= i || values.isNullAt(i)) 0.0 else values.getDouble(i)
    copyValues(new ScalerModel(uid + "_model").setSum(orZero(0)).setMin(orZero(1)))
      .setParent(this)
  }
}

object Scaler extends DefaultParamsReadable[Scaler]

class ScalerModel(override val uid: String)
  extends Model[ScalerModel]
  with InputOutputColParams
  with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("ScalerModel"))
  /** Compatibility constructor mirroring the reference's state-carrying
    * model (state still lands in params for persistence). */
  def this(sum: Double, min: Double) = {
    this(Identifiable.randomUID("ScalerModel"))
    setSum(sum); setMin(min)
  }

  final val logScale: BooleanParam =
    new BooleanParam(this, "logScale", "apply natural log after scaling")
  final val norm: BooleanParam =
    new BooleanParam(this, "norm", "divide by the column sum")
  final val sumParam: DoubleParam =
    new DoubleParam(this, "columnSum", "fitted column sum")
  final val minParam: DoubleParam =
    new DoubleParam(this, "columnMin", "fitted column min")
  setDefault(logScale -> false, norm -> true, sumParam -> 0.0, minParam -> 0.0)

  def sum: Double = $(sumParam)
  def min: Double = $(minParam)
  def setSum(value: Double): this.type = set(sumParam, value)
  def setMin(value: Double): this.type = set(minParam, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setLogScale(value: Boolean): this.type = set(logScale, value)
  def setNorm(value: Boolean): this.type = set(norm, value)

  override def copy(extra: ParamMap): ScalerModel =
    copyValues(new ScalerModel(uid), extra).setParent(parent)

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"Dataset has to contain the input column : ${$(inputCol)}")
    schema.add(StructField($(outputCol), DoubleType, nullable = false))
  }

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    val scaled =
      if (sum > 0) dataset.withColumn($(outputCol), col($(inputCol)) / sum)
      else dataset.withColumn($(outputCol), col($(inputCol)))
    if ($(logScale))
      scaled.withColumn($(outputCol),
        org.apache.spark.sql.functions.log(col($(outputCol))))
    else scaled.toDF()
  }
}

object ScalerModel extends DefaultParamsReadable[ScalerModel]

/** Zero-mean / unit-variance scaler over a scalar column (reference
  * `estimator/StandardScaler.scala:30-102` — population σ, matching the
  * reference's `/ N` divisor, NOT Spark's sample-σ `stddev`). Fit is one
  * `agg(avg, stddev_pop)` instead of two RDD reduces, shared with every
  * other [[AggregateFit]] stage of an [[AggregateFitPipeline]]; transform is a pure
  * null-propagating column expression instead of the reference's
  * null-boxing UDF. */
class GraftStandardScaler(override val uid: String)
  extends AggregateFit[GraftStandardScalerModel]
  with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("GraftStandardScaler"))

  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)

  override def copy(extra: ParamMap): this.type = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    schema.add($(outputCol), DoubleType, nullable = true)

  override protected def aggregates: Seq[Column] =
    Seq(avg(col($(inputCol)).cast("double")), stddev_pop(col($(inputCol)).cast("double")))

  override protected def fromAggregates(values: Row): GraftStandardScalerModel =
    copyValues(new GraftStandardScalerModel(uid + "_model")
      .setMean(values.getDouble(0)).setStd(values.getDouble(1)))
      .setParent(this)
}

object GraftStandardScaler extends DefaultParamsReadable[GraftStandardScaler]

class GraftStandardScalerModel(override val uid: String)
  extends Model[GraftStandardScalerModel]
  with InputOutputColParams
  with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("GraftStandardScalerModel"))
  def this(mean: Double, std: Double) = {
    this(Identifiable.randomUID("GraftStandardScalerModel"))
    setMean(mean); setStd(std)
  }

  final val meanParam: DoubleParam =
    new DoubleParam(this, "fittedMean", "fitted column mean")
  final val stdParam: DoubleParam =
    new DoubleParam(this, "fittedStd", "fitted population stddev")
  setDefault(meanParam -> 0.0, stdParam -> 1.0)

  def mean: Double = $(meanParam)
  def std: Double = $(stdParam)
  def setMean(value: Double): this.type = set(meanParam, value)
  def setStd(value: Double): this.type = set(stdParam, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)

  override def copy(extra: ParamMap): GraftStandardScalerModel =
    copyValues(new GraftStandardScalerModel(uid), extra).setParent(parent)

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"Dataset has to contain the input column : ${$(inputCol)}")
    schema.add(StructField($(outputCol), DoubleType, nullable = false))
  }

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    // constant column ⇒ σ=0: emit 0.0 (the centered value) instead of a
    // divide-by-zero error under ANSI mode
    val z =
      if (std == 0.0) org.apache.spark.sql.functions.lit(0.0)
      else (col($(inputCol)) - mean) / std
    dataset.withColumn($(outputCol), z)
  }
}

object GraftStandardScalerModel extends DefaultParamsReadable[GraftStandardScalerModel]
