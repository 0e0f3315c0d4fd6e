package graft.estimator

import scala.util.hashing.MurmurHash3

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.feature.{HashingTF, IDF, IDFModel}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.ml.param.{IntArrayParam, LongParam, Param, ParamMap, ParamValidators}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** String tokenise-and-encode stage (reference
  * `estimator/StringEncoder.scala:72-223`).
  *
  * `Murmur` method: fit collects the sorted distinct Murmur3 token-hash
  * space (seed 0x8623 — `PREDEF.HASH_SEED` at reference
  * StringEncoder.scala:34-36; Spark's built-in `hash()` is Murmur3 with a
  * different seed, so output parity requires `MurmurHash3.stringHash`),
  * and transform emits a dense count vector over that space. The hash
  * space persists as a param, so fitted pipelines save/load with the
  * stock writers. The output column carries its vector size as ML
  * attribute metadata, so `VectorAssembler` needs no job to learn it.
  *
  * `TFIDF(minFreq)` method: HashingTF + IDF composition, temp columns
  * dropped. A term (hash bucket) found in fewer than `minFreq` of the
  * fitted documents gets weight 0 (the IDF's `minDocFreq`).
  * The IDF statistics live in a nested Spark model, which params cannot
  * carry — persisting a TFIDF-fitted encoder raises a clear error.
  */
object StringEncoder extends DefaultParamsReadable[StringEncoder] {
  val HashSeed = 0x8623
  val TokenSuffix = "__token"

  def murmur(s: String): Int = MurmurHash3.stringHash(s, HashSeed)

  sealed trait Method
  case object Murmur extends Method
  final case class TFIDF(minFreq: Int = 1) extends Method

  sealed trait Tokenizer {
    def splitDF(df: DataFrame, inputCol: String, outputCol: String): DataFrame
  }
  case object WhiteSpaceToken extends Tokenizer {
    override def splitDF(df: DataFrame, inputCol: String, outputCol: String): DataFrame =
      df.withColumn(outputCol, split(col(inputCol), "\\s+"))
  }
}

class StringEncoder(
    method: StringEncoder.Method,
    tokeniser: StringEncoder.Tokenizer,
    override val uid: String)
  extends Estimator[StringEncoderModel]
  with InputOutputColParams
  with DefaultParamsWritable {

  import StringEncoder._

  def this(method: StringEncoder.Method = StringEncoder.Murmur,
      tokeniser: StringEncoder.Tokenizer = StringEncoder.WhiteSpaceToken) =
    this(method, tokeniser, Identifiable.randomUID("StringEncoder"))
  def this(uid: String) = this(StringEncoder.Murmur, StringEncoder.WhiteSpaceToken, uid)

  /** Cap on the Murmur vocabulary (distinct token hashes). The fitted
    * hash space is collected to the driver (reference semantics), so an
    * unbounded web-scale vocabulary would OOM the driver — fail fast with
    * an explanation instead. Raise explicitly for known-bounded spaces. */
  final val maxVocab: LongParam = new LongParam(this, "maxVocab",
    "cap on the distinct token hashes a Murmur fit collects", ParamValidators.gt(0))
  setDefault(maxVocab -> 10000000L)

  // the method and tokeniser are constructor state, not params
  override def copy(extra: ParamMap): StringEncoder =
    copyValues(new StringEncoder(method, tokeniser, uid), extra)
  override def transformSchema(schema: StructType): StructType =
    schema.add($(outputCol), VectorType, nullable = true)

  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setMaxVocab(n: Long): this.type = set(maxVocab, n)
  def getMaxVocab: Long = $(maxVocab)

  override def fit(dataset: Dataset[_]): StringEncoderModel = {
    transformSchema(dataset.schema, logging = true)
    val tokCol = $(inputCol) + TokenSuffix
    val tokenised = tokeniser.splitDF(dataset.toDF(), $(inputCol), tokCol)
    method match {
      case Murmur =>
        // Distinct token-hash space, computed as a single distributed
        // distinct over exploded tokens (the reference's RDD collect at
        // StringEncoder.scala:157-166, kept in the DataFrame API).
        val murmurUdf = udf((s: String) => murmur(s))
        val distinctHashes = tokenised
          .select(explode(col(tokCol)).as("t"))
          .select(murmurUdf(col("t")).as("h"))
          .distinct()
        // The collect is the one driver-side cardinality bomb in the
        // surface: one pass brings back at most cap + 1 hashes, and more
        // than the cap is refused instead of OOMing the driver. The sort
        // runs on the driver: `orderBy(...).limit(n)` would plan a
        // top-n that allocates n slots per task.
        val cap = $(maxVocab)
        val space = distinctHashes.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt)
          .collect().map(_.getInt(0))
        if (space.length > cap) throw new IllegalStateException(
          s"StringEncoder.Murmur vocabulary has ${space.length}+ distinct token hashes " +
            s"(> maxVocab=$cap); the fitted hash space is collected to " +
            "the driver. Normalize/filter tokens, use the TFIDF method, or " +
            "raise the cap via setMaxVocab if the space is known to fit.")
        java.util.Arrays.sort(space)
        new StringEncoderModel(uid + "_model").setHashSpace(space)
          .setInputCol($(inputCol)).setOutputCol($(outputCol))
          .setParent(this)
      case TFIDF(minFreq) =>
        val tfCol = $(inputCol) + "___tf"
        val tf = new HashingTF().setInputCol(tokCol).setOutputCol(tfCol)
        val idf = new IDF().setInputCol(tfCol).setOutputCol($(outputCol))
          .setMinDocFreq(minFreq)
          .fit(tf.transform(tokenised))
        val m = new StringEncoderModel(uid + "_model")
          .setMethodName("tfidf")
          .setInputCol($(inputCol)).setOutputCol($(outputCol))
        m.tfidfFitted = Some(TfIdfFitted(tf, idf))
        m.tempCols = List(tfCol)
        m.setParent(this)
    }
  }
}

sealed trait FittedEncoder {
  def transform(df: DataFrame, tokenCol: String): DataFrame
}

final case class MurmurFitted(hashSpace: Array[Int], outputCol: String)
    extends FittedEncoder {
  override def transform(df: DataFrame, tokenCol: String): DataFrame = {
    val space = hashSpace // avoid closing over the case class
    val enc = udf((seq: Seq[String]) => {
      val counts = new Array[Double](space.length)
      if (seq != null) seq.foreach { s =>
        val i = java.util.Arrays.binarySearch(space, StringEncoder.murmur(s))
        if (i >= 0) counts(i) += 1.0
      }
      Vectors.dense(counts)
    })
    df.withColumn(outputCol, enc(col(tokenCol)))
      .withMetadata(outputCol, new AttributeGroup(outputCol, space.length).toMetadata())
  }
}

final case class TfIdfFitted(tf: HashingTF, idf: IDFModel) extends FittedEncoder {
  override def transform(df: DataFrame, tokenCol: String): DataFrame =
    idf.transform(tf.transform(df))
}

class StringEncoderModel(override val uid: String)
  extends Model[StringEncoderModel]
  with InputOutputColParams
  with DefaultParamsWritable {

  import StringEncoder._

  def this() = this(Identifiable.randomUID("StringEncoderModel"))

  final val hashSpaceParam: IntArrayParam =
    new IntArrayParam(this, "hashSpace", "sorted distinct murmur token hashes")
  final val methodName: Param[String] =
    new Param[String](this, "methodName", "murmur | tfidf")
  setDefault(hashSpaceParam -> Array.emptyIntArray, methodName -> "murmur")

  /** TFIDF runtime state — nested Spark models, not persistable via params. */
  @transient private[estimator] var tfidfFitted: Option[TfIdfFitted] = None
  @transient private[estimator] var tempCols: List[String] = Nil

  def setHashSpace(value: Array[Int]): this.type = set(hashSpaceParam, value)
  def setMethodName(value: String): this.type = set(methodName, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)

  def fitted: FittedEncoder = $(methodName) match {
    case "murmur" => MurmurFitted($(hashSpaceParam), $(outputCol))
    case "tfidf" => tfidfFitted.getOrElse(throw new IllegalStateException(
      "TFIDF encoder state is runtime-only (nested IDF model); refit after load"))
  }

  override def write: MLWriter = {
    require($(methodName) == "murmur",
      "TFIDF-fitted StringEncoderModel cannot be persisted via params " +
        "(nested IDF model); persist the murmur variant or refit")
    super.write
  }

  override def copy(extra: ParamMap): StringEncoderModel = {
    val copied = copyValues(new StringEncoderModel(uid), extra)
    copied.tfidfFitted = tfidfFitted
    copied.tempCols = tempCols
    copied.setParent(parent)
  }

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"Dataset has to contain the input column : ${$(inputCol)}")
    schema.add($(outputCol), VectorType, nullable = false)
  }

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    val tokCol = $(inputCol) + TokenSuffix
    val df = fitted.transform(
      WhiteSpaceToken.splitDF(dataset.toDF(), $(inputCol), tokCol), tokCol)
    (tempCols :+ tokCol).foldLeft(df)(_ drop _)
  }
}

object StringEncoderModel extends DefaultParamsReadable[StringEncoderModel]
