package graft.car

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.{GBTClassificationModel, LogisticRegressionModel}
import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.metrics.Scores

/** End-to-end 问题一 capability: TSV → repair → features → vocab encode →
  * normalize → train → predict → denormalize → metrics → submission
  * (the reference's first.py lifecycle, SURVEY.md §3.2), with MLlib
  * standing in for the neural nets.
  */
class PipelinesSpec extends SparkSpec {

  test("price pipeline end-to-end on the fixture") {
    val raw = Repair.repair(CarFixtures.trainDf(spark, 40))
    val feat0 = CarFeatures.withDimensionFeatures(raw)
    val feat1 = CarFeatures.withDateComponents(feat0, "tradeTime", "trade")
    val vocab = Vocab.build(Seq(feat1), Seq("brand", "color", "oiltype"))
    val encoded = Vocab.encode(feat1, vocab, Seq("brand", "color", "oiltype"))
    val (normalized, stats) = Normalize.fitTransform(
      encoded, Seq("mileage", "newprice"), Normalize.ZScore)

    val model = Pipelines.priceRegression(normalized, useGbt = false)
    val pred = model.transform(normalized)
    assert(pred.columns.contains("prediction"))
    assert(pred.where(col("prediction").isNull || isnan(col("prediction"))).count() == 0)

    val report = Scores.regressionReport(pred, "price", "prediction").head()
    assert(report.getAs[Long]("n") == 40)
    assert(!report.getAs[Double]("mape").isNaN)

    // submission sink (S6): carid \t price, readable back
    val out = java.nio.file.Files.createTempDirectory("graft_sub").toString
    CarSources.writeSubmission(
      pred.select(col("carid"), col("prediction").as("price")), out)
    val back = spark.read.option("sep", "\t").csv(out)
    assert(back.count() == 40)
  }

  /** The deal-classifier input and the sold-car input of the 问题二 models:
    * the fixture's matched rows, replicated to a trainable size.
    */
  private def dealFrames(): (DataFrame, DataFrame) = {
    val car = Repair.repair(CarFixtures.trainDf(spark, 40))
    val txn = CarFixtures.txnDf(spark)
    val joined = CarJoins.carWithTransactions(car, txn)
    val train0 = joined.withColumn("rep", explode(array((0 until 10).map(lit): _*))).drop("rep")
    val train1 = CarFeatures.withDimensionFeatures(train0)
    val train = CarFeatures.withDateComponents(train1, "tradeTime", "trade")
    val sold0 = CarFeatures.withFinalPrice(CarJoins.soldCars(car, txn))
      .withColumn("rep", explode(array((0 until 10).map(lit): _*))).drop("rep")
    val sold = CarFeatures.withDateComponents(
      CarFeatures.withDimensionFeatures(sold0), "withdrawDate", "deal")
    (train, sold)
  }

  test("deal classifier + multi-head date model train and predict") {
    val (train, sold1) = dealFrames()
    val clf = Pipelines.dealClassifier(train)
    val scored = clf.transform(train)
    assert(scored.columns.contains("prediction"))
    assert(scored.select("prediction").distinct().count() <= 2)

    val (ym, mm, dm, pm) = Pipelines.dealDateAndPrice(sold1)
    val p = pm.transform(dm.transform(mm.transform(ym.transform(sold1))))
    assert(Seq("dealYearPred", "dealMonthPred", "dealDayPred", "dealPricePred")
      .forall(p.columns.contains))
  }

  test("concurrent fits equal the same estimators fitted one at a time") {
    val (train, sold) = dealFrames()
    // as Lifecycles.second fits them: the classifier beside the four
    // heads, which dealDateAndPrice fits side by side
    val (clf, (ym, mm, dm, pm)) = Concurrently.both(spark)(
      Pipelines.dealClassifier(train), Pipelines.dealDateAndPrice(sold))
    val clf1 = Pipelines.dealClassifier(train)
    val Seq(ym1, mm1, dm1, pm1) = Pipelines.dealDateAndPriceHeads(sold,
      "dealYearIdx", "dealMonthIdx", "dealDayIdx", "dealPrice").map(_.fit(sold))

    def predictions(m: PipelineModel, df: DataFrame, c: String): Seq[Double] =
      m.transform(df).select(c).collect().map(_.getDouble(0)).toSeq
    // the tree splits; the first line names the model's random uid
    def splits(debug: String) = debug.linesIterator.drop(1).toSeq
    def lr(m: PipelineModel) = m.stages.last.asInstanceOf[LogisticRegressionModel]
    for ((a, b) <- Seq(ym -> ym1, mm -> mm1, dm -> dm1)) {
      assert(lr(a).coefficientMatrix.toArray.toSeq == lr(b).coefficientMatrix.toArray.toSeq)
      assert(lr(a).interceptVector.toArray.toSeq == lr(b).interceptVector.toArray.toSeq)
    }
    val (g, g1) = (pm.stages.last.asInstanceOf[GBTRegressionModel],
      pm1.stages.last.asInstanceOf[GBTRegressionModel])
    assert(g.treeWeights.toSeq == g1.treeWeights.toSeq)
    assert(splits(g.toDebugString) == splits(g1.toDebugString))
    assert(predictions(pm, sold, "dealPricePred") == predictions(pm1, sold, "dealPricePred"))
    val (c, c1) = (clf.stages.last.asInstanceOf[GBTClassificationModel],
      clf1.stages.last.asInstanceOf[GBTClassificationModel])
    assert(c.treeWeights.toSeq == c1.treeWeights.toSeq)
    assert(splits(c.toDebugString) == splits(c1.toDebugString))
    assert(predictions(clf, train, "prediction") == predictions(clf1, train, "prediction"))
  }
}
