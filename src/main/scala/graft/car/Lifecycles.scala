package graft.car

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.metrics.Scores

/** The reference's three batch entry points (SURVEY.md §3) as callable
  * lifecycles — a user of the reference runs `python preprocess.py /
  * first.py / second.py`; here the same dataflow is three functions over
  * a SparkSession. Neural stages are MLlib models (capability parity,
  * not weight parity); intermediates are parquet, not xlsx.
  *
  * Branches of a lifecycle that share no state run concurrently on their
  * own driver threads against the one SparkContext ([[Concurrently]]):
  * in [[preprocess]] the dictionary beside the entity and relation
  * vocabularies, and the two embedding saves; in [[second]] the deal
  * classifier beside the date/price model, whose four heads are fitted
  * side by side ([[Pipelines.dealDateAndPrice]]). Every branch reads the
  * input it would read alone, so the results are those of sequential
  * fits. No setting controls this. The cost is memory: during
  * [[second]] the three LR heads' cached instances and the GBTs' binned
  * points are cached at the same time instead of one after another.
  */
object Lifecycles {

  final case class PreprocessOut(
      repaired: DataFrame, train: DataFrame, dev: DataFrame,
      vocab: DataFrame, triplets: DataFrame,
      entityVocab: DataFrame, relationVocab: DataFrame,
      encodedTriplets: DataFrame,
      entityEmb: DataFrame, relationEmb: DataFrame, epochLoss: Seq[Double],
      mrrTrace: Seq[(Int, Double)] = Nil, bestEpoch: Int = -1)

  /** §3.1 preprocess.py: ingest → repair → split → dictionary → KG
    * triplets → trained KG embeddings (reference preprocess.py:92-119 +
    * the `train_rgcn_model` loop at preprocess.py:25-91; here the
    * trainer is [[EmbeddingTrainer]] over the encoded triplet table, and
    * the persisted artifact the downstream stages consume — reference
    * `embedding.npz`, preprocess.py:75-85 — is written through
    * [[EmbeddingStore.save]] when `embeddingPath` is given).
    */
  def preprocess(spark: SparkSession, carPath: String,
      discreteCols: Seq[String] = Seq("brand", "serial", "model", "color",
        "cityId", "country", "oiltype"),
      seed: Long = 42L,
      embeddingCfg: EmbeddingTrainer.Config =
        EmbeddingTrainer.Config(dim = 8, epochs = 3,
          evalEvery = 1, evalSample = 200),
      embeddingPath: Option[String] = None,
      percentage: Double = 0.7,
      triplePercentage: Double = 0.7): PreprocessOut = {
    val raw = CarSources.readCarTest(spark, carPath)
    val repaired = Repair.repair(raw)
    val (train, dev) = Splits.shuffledSplit(repaired, percentage, seed)
    val triplets = Triplets.fromRows(train, discreteCols)
      .unionByName(Triplets.fromRows(dev, discreteCols, upperTriangleOnly = true))
      .dropDuplicates("head_entity", "relation", "tail_entity")
    // The dictionary and the dense-id vocabularies over the triplet
    // strings (utils.py:144-153) are independent, so they are built side
    // by side; the distributed analogue of the RGCN pretraining loop
    // follows.
    val Seq(vocab, entityVocab, relationVocab) = Concurrently.all(spark)(
      () => Vocab.build(Seq(train, dev), discreteCols),
      () => entityVocabOf(triplets),
      () => relationVocabOf(triplets))
    val encoded = Triplets.encode(triplets, entityVocab, relationVocab)
    // The reference splits the triplet table sequentially by
    // --triple-percentage (samples.py:96-111 `.loc[:train_len]`), trains
    // on the train split, validates filtered MRR every evaluate_every
    // epochs and keeps the best epoch's embeddings (preprocess.py:61-79);
    // when evalEvery == 0 the valid split is simply held out of training.
    val (encTrain, encValid) =
      Splits.sequentialSplit(encoded, "head_id", triplePercentage)
    val trained = EmbeddingTrainer.train(
      encTrain, entityVocab.count(), relationVocab.count(),
      embeddingCfg.copy(seed = seed), valid = Some(encValid))
    embeddingPath.foreach { p =>
      Concurrently.all(spark)(
        () => EmbeddingStore.save(trained.entityEmb, s"$p/entity"),
        () => EmbeddingStore.save(
          trained.relationEmb.withColumnRenamed("relation_id", "entity_id"),
          s"$p/relation"))
    }
    PreprocessOut(repaired, train, dev, vocab, triplets,
      entityVocab, relationVocab, encoded,
      trained.entityEmb, trained.relationEmb, trained.epochLoss,
      trained.mrrTrace, trained.bestEpoch)
  }

  /** Dense ids over the head and tail entity strings of `triplets`. */
  private[car] def entityVocabOf(triplets: DataFrame): DataFrame =
    graft.operators.DenseId.withOrderedId(
      triplets.select(col("head_entity").as("entity"))
        .union(triplets.select(col("tail_entity"))).distinct(),
      "id", "entity")

  /** Dense ids over the relation strings of `triplets`. */
  private[car] def relationVocabOf(triplets: DataFrame): DataFrame =
    graft.operators.DenseId.withOrderedId(
      triplets.select(col("relation")).distinct(), "id", "relation")

  /** Pretrained entity features from a preprocess run — the engine's
    * analogue of first.py:49-53 loading embedding.npz into the model's
    * entity embedding layer. With the additive-score trainer, an
    * entity's learned signal lives in its vector SUM (every dimension
    * moves together), so the feature is one scalar per entity string.
    */
  def embeddingFeatures(pre: PreprocessOut): DataFrame =
    embeddingFeatures(pre.entityEmb, pre.entityVocab)

  /** Same, from persisted artifacts ([[EmbeddingStore.load]] +
    * an entity-vocab parquet with (entity, id)).
    */
  def embeddingFeatures(entityEmb: DataFrame, entityVocab: DataFrame): DataFrame =
    entityEmb
      .join(entityVocab.withColumnRenamed("id", "entity_id"), Seq("entity_id"))
      .select(col("entity"),
        expr("aggregate(vector, 0D, (a, x) -> a + x)").as("emb_feat"))

  /** Join `<col>EmbFeat` pretrained features for each discrete column
    * (entities keyed "col:value"; unseen entities fall back to 0).
    */
  private def withEmbeddingFeatures(df: DataFrame, pretrained: Option[DataFrame],
      cols: Seq[String]): DataFrame =
    pretrained.fold(df) { emb =>
      cols.foldLeft(df) { (acc, c) =>
        val e = emb.select(col("entity").as(s"__${c}_ent"),
          col("emb_feat").as(s"${c}EmbFeat"))
        acc.join(broadcast(e),
            concat(lit(s"$c:"), acc(c).cast("string")) === col(s"__${c}_ent"),
            "left")
          .drop(s"__${c}_ent")
          .na.fill(0.0, Seq(s"${c}EmbFeat"))
      }
    }

  /** §3.2 first.py: featurize → normalize → train → predict →
    * denormalize → submission frame (reference first.py:21-128,
    * evaluate.py:69-95). Returns (submission, metricsReport).
    *
    * `pretrained` (from [[embeddingFeatures]]) injects the KG-pretrained
    * per-entity features into the regression, mirroring first.py's
    * `ent_embed.from_pretrained(embedding.npz)` — entities the trainer
    * never saw fall back to 0 (torch rows absent from the dictionary
    * would not be looked up either).
    */
  def first(spark: SparkSession, trainDf: DataFrame, scoreDf: DataFrame,
      labelCol: String = "newprice",
      pretrained: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    def featurize(df: DataFrame): DataFrame =
      CarFeatures.withDateComponents(
        CarFeatures.withDimensionFeatures(df), "tradeTime", "trade")
    val vocabCols = Seq("brand", "color", "oiltype")
    val vocab = Vocab.build(Seq(trainDf, scoreDf), vocabCols)
    def encode(df: DataFrame): DataFrame =
      withEmbeddingFeatures(
        Vocab.encode(featurize(df), vocab, vocabCols), pretrained, vocabCols)
    val train0 = encode(trainDf)
    // normalize the label like the reference normalizes price (A2), and
    // invert predictions with the SAME stats (A4)
    val stats = Normalize.fit(train0, Seq(labelCol), Normalize.ZScore)
    val train = Normalize.transform(train0, stats, Seq(labelCol))
    val model = Pipelines.priceRegression(train, labelCol, useGbt = false)
    val scored0 = model.transform(encode(scoreDf))
      .withColumn(labelCol, col("prediction"))
    val scored = stats.denormalize(scored0, Seq(labelCol))
      .withColumn("predicted_price", col(labelCol))
    val submission = scored.select(col("carid"), col("predicted_price").as("price"))
    val report = Scores.regressionReport(
      model.transform(train).withColumnRenamed("prediction", "pred_z"),
      labelCol, "pred_z")
    (submission, report)
  }

  /** §3.3 second.py: transaction join + deal label → classifier;
    * sold-cars join + final-price parse → date/price heads
    * (reference second.py:118-151). Returns the two scored frames.
    * `pretrained` injects KG-pretrained entity features like the
    * reference's second.py:40-44 `ent_embed.from_pretrained`.
    */
  def second(spark: SparkSession, carDf: DataFrame, txnDf: DataFrame,
      pretrained: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    def featurize(df: DataFrame): DataFrame =
      withEmbeddingFeatures(
        CarFeatures.withDateComponents(
          CarFeatures.withDimensionFeatures(df), "tradeTime", "trade"),
        pretrained, Seq("brand", "color", "oiltype"))
    val labeled = featurize(CarJoins.carWithTransactions(carDf, txnDf))
    require(!labeled.isEmpty,
      "car ⋈ transaction join is empty — the transaction table's carids " +
        "must reference the supplied car table (the reference's 附件4 keys " +
        "into 附件1, which its repo does not ship; see LifecyclesSpec for " +
        "the facsimile pattern)")
    val sold = CarFeatures.withDateComponents(
      featurize(CarFeatures.withFinalPrice(CarJoins.soldCars(carDf, txnDf))),
      "withdrawDate", "deal")
    val (clf, (ym, mm, dm, pm)) = Concurrently.both(spark)(
      Pipelines.dealClassifier(labeled), Pipelines.dealDateAndPrice(sold))
    val dealScored = clf.transform(labeled)
      .select(col("carid"), col("dealResult"), col("prediction").as("deal_pred"))
    val datePrice = pm.transform(dm.transform(mm.transform(ym.transform(sold))))
      .select(col("carid"),
        col("dealYearPred"), col("dealMonthPred"), col("dealDayPred"),
        col("dealPricePred"))
    (dealScored, datePrice)
  }
}
