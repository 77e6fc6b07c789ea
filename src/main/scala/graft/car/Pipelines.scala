package graft.car

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §3 — the reference's three model lifecycles re-expressed as MLlib
  * pipelines (SURVEY.md §3.2-3.3, §7 step 7). Neural-net parity is a
  * non-goal; the *capability* — featurize → train → predict →
  * denormalize → metrics → submission — is the target.
  *
  *  - price regression stands in for IGANN/TEIGANN (reference first.py);
  *  - deal classification stands in for TEIGANNClassifier (reference
  *    second.py:18-76);
  *  - the multi-task deal-date + deal-price head of TabNet (reference
  *    tabnet.py:218-275) becomes 3 multinomial heads + 1 regressor over
  *    shared features.
  */
object Pipelines {

  /** Feature columns available after Repair + CarFeatures + Vocab.encode
    * + Normalize: continuous roles, dimension-derived features, date
    * components, and encoded discrete ids.
    */
  def featureColumns(df: DataFrame): Seq[String] = {
    val cont = CarSchema.continuousColumns.filter(df.columns.contains)
    val derived = Seq("carLength", "carWidth", "carHeight", "carVolume",
      "carSurface", "carPerimeter").filter(df.columns.contains)
    val dates = df.columns.filter(_.endsWith("Idx")).toSeq
    val ids = df.columns.filter(_.endsWith("Id")).filterNot(_ == "carid").toSeq
    // pretrained KG-embedding features (reference first.py:49-53 seeds
    // ent_embed from embedding.npz; see Lifecycles.embeddingFeatures)
    val emb = df.columns.filter(_.endsWith("EmbFeat")).toSeq
    cont ++ derived ++ dates ++ ids ++ emb
  }

  private def assembler(features: Seq[String], outputCol: String = "features") =
    new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol(outputCol)
      .setHandleInvalid("keep")

  /** 问题一 — price regression (reference first.py:21-117). */
  def priceRegression(train: DataFrame, labelCol: String = "price",
      useGbt: Boolean = true): PipelineModel = {
    val feats = featureColumns(train)
    val reg =
      if (useGbt) new GBTRegressor().setLabelCol(labelCol).setMaxIter(20)
      else new LinearRegression().setLabelCol(labelCol).setMaxIter(50)
    new Pipeline().setStages(Array(assembler(feats), reg)).fit(train)
  }

  /** 问题二(a) — deal-probability classifier (reference second.py:18-76). */
  def dealClassifier(train: DataFrame, labelCol: String = "dealResult"): PipelineModel = {
    val feats = featureColumns(train)
    val clf = new GBTClassifier().setLabelCol(labelCol).setMaxIter(20)
    new Pipeline().setStages(Array(assembler(feats), clf)).fit(train)
  }

  /** 问题二(b) — multi-task deal-date (year/month/day heads) + deal-price
    * (reference tabnet.py:218-275): one shared feature vector, three
    * multinomial LogisticRegression heads + one regressor. The four heads
    * share nothing but the input, so they are fitted concurrently
    * ([[Concurrently]]). Returns (yearModel, monthModel, dayModel,
    * priceModel).
    */
  def dealDateAndPrice(train: DataFrame,
      yearCol: String = "dealYearIdx", monthCol: String = "dealMonthIdx",
      dayCol: String = "dealDayIdx", priceCol: String = "dealPrice")
      : (PipelineModel, PipelineModel, PipelineModel, PipelineModel) = {
    val heads = dealDateAndPriceHeads(train, yearCol, monthCol, dayCol, priceCol)
    val Seq(year, month, day, price) =
      Concurrently.all(train.sparkSession)(heads.map(h => () => h.fit(train)): _*)
    (year, month, day, price)
  }

  /** The unfitted year, month, day and price heads of [[dealDateAndPrice]]. */
  private[car] def dealDateAndPriceHeads(train: DataFrame, yearCol: String,
      monthCol: String, dayCol: String, priceCol: String): Seq[Pipeline] = {
    val feats = featureColumns(train)
    // distinct feature output columns so the four models' transforms chain
    def head(labelCol: String, predCol: String): Pipeline =
      new Pipeline().setStages(Array(assembler(feats, s"${predCol}Features"),
        new LogisticRegression().setLabelCol(labelCol).setMaxIter(30)
          .setFeaturesCol(s"${predCol}Features")
          .setPredictionCol(predCol)
          .setProbabilityCol(s"${predCol}Prob")
          .setRawPredictionCol(s"${predCol}Raw")))
    val price = new Pipeline().setStages(Array(assembler(feats, "dealPriceFeatures"),
      new GBTRegressor().setLabelCol(priceCol).setMaxIter(20)
        .setFeaturesCol("dealPriceFeatures")
        .setPredictionCol("dealPricePred")))
    Seq(head(yearCol, "dealYearPred"), head(monthCol, "dealMonthPred"),
      head(dayCol, "dealDayPred"), price)
  }
}
