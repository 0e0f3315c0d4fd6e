package graft.model

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.estimator._
import graft.evaluation._

class MLSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // Shaped like the reference's Train fixture (AllTest.scala:618-624)
  private lazy val train = Seq(
    (1, 0.0, 1.0, -1.0, "foo bar", ""),
    (2, 1.0, 2.0, -2.0, "foo baz", "a"),
    (3, 2.0, 3.0, -3.0, "bar baz qux", "b"),
    (4, 3.0, 4.0, -4.0, "foo", "c")
  ).toDF("i", "d", "v", "w", "s", "s2")

  test("StringEncoder Murmur: count vector over sorted distinct hash space") {
    val model = new StringEncoder().setInputCol("s").setOutputCol("enc").fit(train)
    val out = model.transform(train)
    // distinct tokens: foo bar baz qux → 4-dim count vectors
    val vecs = out.select("enc").collect().map(_.getAs[org.apache.spark.ml.linalg.Vector](0))
    assert(vecs.forall(_.size == 4))
    assert(vecs.map(_.toArray.sum).toSeq == Seq(2.0, 2.0, 3.0, 1.0))
    // same token always maps to the same slot: "foo" appears in rows 0,1,3
    val fooSlot = vecs(3).toArray.indexWhere(_ == 1.0)
    assert(vecs(0).toArray(fooSlot) == 1.0 && vecs(1).toArray(fooSlot) == 1.0)
    // token col removed
    assert(!out.columns.exists(_.endsWith(StringEncoder.TokenSuffix)))
  }

  test("StringEncoder Murmur refuses oversized vocabularies (maxVocab guard)") {
    // 5 distinct tokens vs a cap of 3: the driver-side hash-space collect
    // must fail fast with an explanation, not OOM at scale
    val wide = Seq("t1 t2 t3", "t4 t5").toDF("s")
    val err = intercept[IllegalStateException] {
      new StringEncoder().setInputCol("s").setOutputCol("enc")
        .setMaxVocab(3).fit(wide)
    }
    assert(err.getMessage.contains("maxVocab"))
    assert(err.getMessage.contains("setMaxVocab"))
    // under the cap, fitting is unchanged
    val m = new StringEncoder().setInputCol("s").setOutputCol("enc")
      .setMaxVocab(5).fit(wide)
    assert(m.transform(wide).select("enc").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0)).forall(_.size == 5))
  }

  test("StringEncoder murmur seed parity: hash matches MurmurHash3 0x8623") {
    assert(StringEncoder.murmur("foo") ==
      scala.util.hashing.MurmurHash3.stringHash("foo", 0x8623))
  }

  test("StringEncoder TFIDF variant produces vector output, drops temp cols") {
    val model = new StringEncoder(StringEncoder.TFIDF())
      .setInputCol("s").setOutputCol("enc").fit(train)
    val out = model.transform(train)
    assert(out.schema("enc").dataType.typeName == "vector")
    assert(out.columns.toSet == train.columns.toSet + "enc")
  }

  test("StringEncoder TFIDF(minFreq) zeroes terms found in fewer than minFreq documents") {
    import org.apache.spark.ml.feature.{HashingTF, IDF}
    import org.apache.spark.ml.linalg.Vector
    val docs = Seq((0, "a b"), (1, "a c"), (2, "a d")).toDF("i", "s")
    def enc(m: StringEncoder.Method): Seq[Vector] =
      new StringEncoder(m).setInputCol("s").setOutputCol("enc").fit(docs)
        .transform(docs).orderBy("i").collect().map(_.getAs[Vector]("enc")).toSeq
    // the composition with no document-frequency floor
    val tokens = docs.withColumn("t", split($"s", "\\s+"))
    val tf = new HashingTF().setInputCol("t").setOutputCol("tf").transform(tokens)
    val plain = new IDF().setInputCol("tf").setOutputCol("enc").fit(tf).transform(tf)
      .orderBy("i").collect().map(_.getAs[Vector]("enc")).toSeq
    assert(enc(StringEncoder.TFIDF()) == plain)
    // "a" is in all three documents (idf 0), b, c and d in one each: a
    // floor of 3 zeroes every weight, a floor of 1 keeps b, c and d
    val floor3 = enc(StringEncoder.TFIDF(3))
    assert(floor3 != enc(StringEncoder.TFIDF(1)))
    assert(floor3.forall(_.numNonzeros == 0))
    assert(plain.forall(_.numNonzeros == 1))
  }

  test("StringEncoder.copy keeps the method and the vocabulary cap") {
    import org.apache.spark.ml.param.ParamMap
    val tfidf = new StringEncoder(StringEncoder.TFIDF())
      .setInputCol("s").setOutputCol("enc").setMaxVocab(3).copy(ParamMap.empty)
    assert(tfidf.getMaxVocab == 3)
    val m = tfidf.fit(train)
    assert(m.getOrDefault(m.methodName) == "tfidf")
    // train.s has 4 distinct tokens: a copy still refuses them under a cap of 3
    val capped = new StringEncoder().setInputCol("s").setOutputCol("enc")
      .setMaxVocab(3).copy(ParamMap.empty)
    assert(intercept[IllegalStateException](capped.fit(train)).getMessage.contains("maxVocab=3"))
  }

  test("Scaler divides by column sum; log variant applies ln after") {
    // d values: 0,1,2,3 → sum 6
    val m = new Scaler().setInputCol("d").setOutputCol("sc").fit(train)
    val got = m.transform(train).orderBy("i").select("sc").as[Double].collect()
    assert(got.toSeq == Seq(0.0, 1.0 / 6, 2.0 / 6, 3.0 / 6))
    val lg = new Scaler().setInputCol("d").setOutputCol("sc").setLogScale(true).fit(train)
    val gotLog = lg.transform(train).orderBy("i")
      .select("sc").as[Option[Double]].collect()
    assert(gotLog(0).isEmpty) // ln(0) → null, reference-observable behavior
    assert(math.abs(gotLog(1).get - math.log(1.0 / 6)) < 1e-12)
  }

  test("Scaler with norm=false passes through") {
    val m = new Scaler().setInputCol("d").setOutputCol("sc").setNorm(false).fit(train)
    val got = m.transform(train).orderBy("i").select("sc").as[Double].collect()
    assert(got.toSeq == Seq(0.0, 1.0, 2.0, 3.0))
  }

  test("GraftStandardScaler uses population sigma") {
    // d: mean 1.5, population var = (2.25+0.25+0.25+2.25)/4 = 1.25
    val m = new GraftStandardScaler().setInputCol("d").setOutputCol("z").fit(train)
    assert(math.abs(m.mean - 1.5) < 1e-12)
    assert(math.abs(m.std - math.sqrt(1.25)) < 1e-12)
    val got = m.transform(train).orderBy("i").select("z").as[Double].collect()
    assert(math.abs(got(0) - (0.0 - 1.5) / math.sqrt(1.25)) < 1e-12)
  }

  test("ColumnRename renames; DebugStep is a pass-through") {
    val renamed = new ColumnRename().setInputCol("d").setOutputCol("dd")
      .fit(train).transform(train)
    assert(renamed.columns.contains("dd") && !renamed.columns.contains("d"))
    val dbg = new DebugStep().fit(train).transform(train)
    assert(dbg.columns.toSeq == train.columns.toSeq && dbg.count() == 4)
  }

  test("Features generators scan schema by type") {
    assert(Features.encodeStrings(train).getStages.length == 2) // s, s2
    assert(Features.standardiseNumbers(train).getStages.length == 3) // d, v, w
    assert(Features.scaleNumbers(train, ignoreColumns = Set("w")).getStages.length == 2)
    val va = Features.vectorise(train, ignoreColumns = Set("i"))
    assert(va.getInputCols.toSeq == Seq("d", "v", "w")) // sorted, doubles only + ignore
  }

  test("FeatureColumn % builds [VectorAssembler, estimator] pipeline; fit predicts") {
    val design = SupervisedModelDesign(
      outputCol = "prediction", labelCol = "v",
      estimator = Preset.linearReg(label = "v"))
    val specimen = design.toSpecimen(Feature("d"), train)
    // v = d + 1 exactly → RMSE ~ 0
    val rmse = specimen.score(train, RMSE).get
    assert(rmse < 1e-6, s"rmse $rmse")
    val pearson = specimen.score(train, PearsonCorr).get
    assert(math.abs(pearson - 1.0) < 1e-9)
  }

  test("DummyModelDesign preserves the arg-order quirk and scores symmetrically") {
    val spec = DummyModelDesign(labelCol = "v").toSpecimen(Feature("d"), train)
    val dummy = spec.asInstanceOf[DummySpecimen]
    assert(dummy.outputCol == "v" && dummy.labelCol == "d") // swapped, by design
    // |d - v| = 1 for every row → MAE 1, RMSE 1
    assert(math.abs(spec.score(train, MAE).get - 1.0) < 1e-12)
    assert(math.abs(spec.score(train, RMSE).get - 1.0) < 1e-12)
  }

  test("FeatureCompare.bestOf picks the better feature by measure polarity") {
    val design = DummyModelDesign(labelCol = "v")
    // candidate d: |d-v|=1; candidate w: |w-v| = 2,4,6,8 — d wins on MAE
    val best = new DummyFeatureCompare(MAE)
      .bestOf(design, Seq(Feature("d"), Feature("w")), train)
    assert(best.get._2 == Feature("d"))
  }

  test("ModelCompare.allOf scores competing designs") {
    val got = new RegressionModelCompare(RMSE, Feature("d"))
      .allOf(train, Seq(DummyModelDesign("v"), DummyModelDesign("w")))
    assert(got.size == 2)
  }

  test("CrossValidation averages fold scores; SplitValidation validates ratio") {
    // bigger frame so random folds are never empty
    val big = Seq.tabulate(100)(i => (i.toDouble, i + 1.0)).toDF("d", "v")
    val cv = CrossValidation(MAE, nFolds = 2)
      .run(big, DummyModelDesign("v"), Feature("d")).get
    assert(math.abs(cv - 1.0) < 1e-12) // |d-v|=1 in every fold
    assert(SplitValidation(MAE, trainRatio = 1.5f)
      .run(big, DummyModelDesign("v"), Feature("d")).isFailing)
    val sv = SplitValidation(MAE, trainRatio = 0.7f)
      .run(big, DummyModelDesign("v"), Feature("d")).get
    assert(math.abs(sv - 1.0) < 1e-12)
  }

  test("BestNFeaturesSelector keeps top-N by polarity") {
    val sel = BestNFeaturesSelector(1, MAE)
      .selectSubset(train, DummyModelDesign("v"), Seq(Feature("d"), Feature("w")))
    assert(sel.map(_._2).toSeq == Seq(Feature("d")))
  }

  test("ZScore vector: one z per coefficient, finite") {
    val design = SupervisedModelDesign("prediction", "v", Preset.linearReg(label = "v"))
    val spec = design.toSpecimen(AssemblyFeature(Seq("d", "w")), train)
    val z = spec.scoreVector(train, ZScore).get
    assert(z.length == 2 && z.forall(x => !x.isNaN))
  }

  test("SSE cluster measure golden") {
    val df = Seq(
      (Vectors.dense(0.0, 0.0), 0), (Vectors.dense(2.0, 2.0), 0),
      (Vectors.dense(4.0, 4.0), 1), (Vectors.dense(4.0, 4.0), 1)
    ).toDF("features", "cluster")
    // cluster 0 mean (1,1): msd per row = (1+1)/2 = 1; cluster 1: 0
    assert(math.abs(SSE.%(df, "features", "cluster").get - 0.5) < 1e-12)
  }

  test("Preset.kmeans end-to-end with UnsupervisedSpecimen.scoreCluster") {
    val pts = Seq.tabulate(20) { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (base + i * 0.01, base - i * 0.01)
    }.toDF("x", "y")
    val design = UnsupervisedModelDesign("cluster", Preset.kmeans(k = 2))
    val spec = design.toSpecimen(AssemblyFeature(Seq("x", "y")), pts)
    val sse = spec.scoreCluster(pts, SSE).get
    assert(sse < 1.0, s"kmeans SSE $sse") // tight, well-separated clusters
  }

  test("classification measures: AUC 1.0 on perfectly separated scores") {
    val df = Seq((0.1, 0.0), (0.2, 0.0), (0.8, 1.0), (0.9, 1.0)).toDF("p", "l")
    assert(AUC.%(df, "p", "l").get == 1.0)
    val prec = Precision.%%(df, "p", "l").get
    assert(prec.nonEmpty && prec.values.forall(v => v >= 0 && v <= 1))
    assert(Precision.%(df, "p", "l").isFailing) // scalar form unsupported
  }

  test("DimReduc.pca replaces features with reduced vector") {
    val df = Seq.tabulate(10)(i => (i.toDouble, i * 2.0, i * 3.0)).toDF("a", "b", "c")
    val assembled = Features.vectorise(df).transform(df)
    val reduced = DimReduc.pca(2).fit(assembled).transform(assembled)
    assert(reduced.columns.contains("features") && !reduced.columns.contains("features_reduced"))
    val v = reduced.select("features").head.getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size == 2)
  }

  test("Pipe surgery: join/add/prepend/estimator/withoutEstimator/fittedEstimator") {
    val p1 = Preset.linearReg(label = "v")
    val est = Pipe.estimator(p1).get
    assert(est.getStages.length == 1)
    val design = SupervisedModelDesign("prediction", "v", p1)
    val spec = design.toSpecimen(Feature("d"), train)
    val fe = Pipe.fittedEstimator(spec.model).get
    assert(fe.isInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel])
    val joined = Pipe.join(p1, Preset.kmeans()).get
    assert(joined.getStages.length == 2)
  }

  test("Pipe.save/load round-trips a fitted pipeline of built-in stages") {
    val design = SupervisedModelDesign("prediction", "v", Preset.linearReg(label = "v"))
    val spec = design.toSpecimen(Feature("d"), train)
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe").toString + "/m"
    assert(Pipe.save(dir, spec.model).isOk)
    val loaded = Pipe.load(dir).get
    val pred = loaded.transform(train).select("prediction").as[Double].collect()
    val orig = spec.model.transform(train).select("prediction").as[Double].collect()
    assert(pred.toSeq == orig.toSeq)
  }

  test("custom estimator models persist through Pipeline save/load") {
    import org.apache.spark.ml.{Pipeline, PipelineModel}
    val pipe = new Pipeline().setStages(Array(
      new StringEncoder().setInputCol("s").setOutputCol("enc"),
      new Scaler().setInputCol("d").setOutputCol("d_scaled"),
      new GraftStandardScaler().setInputCol("v").setOutputCol("v_z"),
      new ColumnRename().setInputCol("w").setOutputCol("w2")))
    val fitted = pipe.fit(train)
    val dir = java.nio.file.Files.createTempDirectory("graft_persist").toString + "/m"
    fitted.save(dir)
    val loaded = PipelineModel.load(dir)
    val a = fitted.transform(train).orderBy("i")
      .select("d_scaled", "v_z", "w2").collect().toSeq
    val b = loaded.transform(train).orderBy("i")
      .select("d_scaled", "v_z", "w2").collect().toSeq
    assert(a == b)
    // encoder hash space survived the round-trip
    val encA = fitted.transform(train).select("enc").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0)).toSeq
    val encB = loaded.transform(train).select("enc").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0)).toSeq
    assert(encA == encB)
  }

  test("Features scaler pipelines save and load as a plain Pipeline") {
    import org.apache.spark.ml.Pipeline
    val dir = java.nio.file.Files.createTempDirectory("graft_scalers").toString + "/p"
    Features.standardiseNumbers(train, suffix = "_z").write.save(dir)
    val loaded = Pipeline.load(dir)
    assert(loaded.getStages.length == 3)
    val z = loaded.fit(train).transform(train).orderBy("i").select("d_z").as[Double].collect()
    assert(math.abs(z(0) - (0.0 - 1.5) / math.sqrt(1.25)) < 1e-12)
  }

  test("TFIDF-fitted encoder refuses persistence with a clear error") {
    val m = new StringEncoder(StringEncoder.TFIDF())
      .setInputCol("s").setOutputCol("enc").fit(train)
    val err = intercept[IllegalArgumentException](
      m.write.save("/tmp/graft_tfidf_should_fail"))
    assert(err.getMessage.contains("TFIDF"))
  }

  test("Preset.gmm fits and assigns clusters") {
    val pts = Seq.tabulate(40) { i =>
      val base = if (i % 2 == 0) 0.0 else 20.0
      (base + (i % 5) * 0.1, base - (i % 3) * 0.1)
    }.toDF("x", "y")
    val design = UnsupervisedModelDesign("cluster", Preset.gmm(k = 2))
    val spec = design.toSpecimen(AssemblyFeature(Seq("x", "y")), pts)
    val clusters = spec.model.transform(pts).select("cluster").distinct().count()
    assert(clusters == 2)
  }

  test("FeatureAssemblyGenerator generates size-bounded combinations") {
    val gen = new FeatureAssemblyGenerator(1, 2, ignoreCols = List("i"))
    val combos = gen.genCombinations(train).toSeq
    // numeric cols: d, v, w → C(3,1)+C(3,2) = 6
    assert(combos.size == 6)
    assert(combos.forall(c => c.size >= 1 && c.size <= 2))
  }

  test("Calibrate.isotonicGrid equals hand PAV on a violating sequence") {
    import org.apache.spark.sql.functions._
    // x: 1,2,3 with empirical rates 0.8, 0.2, 0.5 -> PAV pools all
    // three for x=1,2? minimax: iso(1) = min over k>=1 of avg(1..k) =
    // min(0.8, 0.5, 0.5) = 0.5; iso(2) = max(avg(2..2)=0.2, avg(2..3)
    // =0.35 -> min over k first...) compute: iso_i = max_j min_k avg
    val rows =
      Seq.fill(8)((1.0, true)) ++ Seq.fill(2)((1.0, false)) ++
      Seq.fill(2)((2.0, true)) ++ Seq.fill(8)((2.0, false)) ++
      Seq.fill(5)((3.0, true)) ++ Seq.fill(5)((3.0, false))
    val df = rows.toDF("x", "y")
    val got = Calibrate.isotonicGrid(df, "x", "y").get
      .orderBy("x").as[(Double, Double)].collect().toSeq
    // hand minimax over the weighted grid (w = 10 each):
    // avg(1,1)=.8 avg(1,2)=.5 avg(1,3)=.5 avg(2,2)=.2 avg(2,3)=.35
    // avg(3,3)=.5
    // iso(1)=max(min(.8,.5,.5))=.5
    // iso(2)=max(min(.5,.5), min(.2,.35)) = .5? min over k>=2 of
    //   avg(1,k)=min(.5,.5)=.5; avg(2,k)=min(.2,.35)=.2 -> max=.5
    // iso(3)=max(avg(1,3)=.5, avg(2,3)=.35, avg(3,3)=.5)=.5
    assert(got == Seq((1.0, 0.5), (2.0, 0.5), (3.0, 0.5)))
    // a monotone-increasing empirical rate is untouched
    val mono =
      Seq.fill(2)((1.0, true)) ++ Seq.fill(8)((1.0, false)) ++
      Seq.fill(5)((2.0, true)) ++ Seq.fill(5)((2.0, false)) ++
      Seq.fill(9)((3.0, true)) ++ Seq.fill(1)((3.0, false))
    val g2 = Calibrate.isotonicGrid(mono.toDF("x", "y"), "x", "y").get
      .orderBy("x").as[(Double, Double)].collect().toSeq
    assert(g2 == Seq((1.0, 0.2), (2.0, 0.5), (3.0, 0.9)))
  }
}
