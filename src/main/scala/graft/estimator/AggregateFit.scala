package graft.estimator

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.{Estimator, Model, Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.{Identifiable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}

/** A per-column estimator whose fit reads only aggregates of its input
  * column, so any number of them fit from one `agg` over the frame
  * instead of one `agg` (and its Spark jobs) each. */
trait AggregateFit[M <: Model[M]] extends Estimator[M] with InputOutputColParams {

  /** The aggregates this column's fit reads; empty when it reads none. */
  protected def aggregates: Seq[Column]

  /** The fitted model from the values of [[aggregates]], in order. */
  protected def fromAggregates(values: Row): M

  override def fit(dataset: Dataset[_]): M =
    AggregateFit.fitAll(dataset, Seq(this)).head.asInstanceOf[M]
}

object AggregateFit {

  /** Fits every estimator from a single aggregate over `dataset`; no job
    * runs when none of them reads an aggregate. */
  def fitAll(dataset: Dataset[_], estimators: Seq[AggregateFit[_ <: Model[_]]]): Seq[Model[_]] = {
    estimators.foreach(_.transformSchema(dataset.schema, logging = true))
    val exprs = estimators.map(_.aggregates)
    val all = exprs.flatten
    val row = if (all.isEmpty) Row.empty else dataset.toDF().agg(all.head, all.tail: _*).head()
    val starts = exprs.scanLeft(0)(_ + _.size)
    estimators.indices.map { i =>
      estimators(i).fromAggregates(Row.fromSeq(row.toSeq.slice(starts(i), starts(i + 1))))
    }
  }
}

/** A `Pipeline` that fits each run of consecutive [[AggregateFit]] stages
  * from one aggregate. A run ends before a stage that reads a column an
  * earlier stage of the run writes, so every stage sees the same input
  * as under `Pipeline.fit`, and the fitted models are the same. Other
  * stages fit as in `Pipeline`. Saved, it is a plain `Pipeline`. */
class AggregateFitPipeline(override val uid: String) extends Pipeline(uid) {

  def this() = this(Identifiable.randomUID("pipeline"))

  override def fit(dataset: Dataset[_]): PipelineModel = {
    transformSchema(dataset.schema, logging = true)
    val lastEstimator = getStages.lastIndexWhere(_.isInstanceOf[Estimator[_]])
    val fitted = ArrayBuffer.empty[Transformer]
    var df: DataFrame = dataset.toDF()
    var run = Vector.empty[AggregateFit[_ <: Model[_]]]
    // as in Pipeline.fit, only stages before the last estimator transform
    def add(t: Transformer): Unit = {
      fitted += t
      if (fitted.length <= lastEstimator) df = t.transform(df)
    }
    def endRun(): Unit = {
      AggregateFit.fitAll(df, run).foreach(add)
      run = Vector.empty
    }
    getStages.foreach {
      case e: AggregateFit[m] =>
        if (run.exists(_.getOutputCol == e.getInputCol)) endRun()
        run :+= e
      case e: Estimator[_] => endRun(); add(e.fit(df))
      case t: Transformer => endRun(); add(t)
    }
    endRun()
    // a Pipeline of fitted stages only assembles them: no fit, no job
    new Pipeline(uid).setStages(fitted.toArray).fit(dataset).setParent(this)
  }

  override def copy(extra: ParamMap): AggregateFitPipeline =
    new AggregateFitPipeline(uid).setStages(extractParamMap(extra)(stages).map(_.copy(extra)))

  override def write: MLWriter = new Pipeline(uid).setStages(getStages).write
}
