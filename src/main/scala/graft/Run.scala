package graft

import graft.car._

/** The user-facing entry-point binary — the analogue of running the
  * reference's `python preprocess.py / first.py / second.py` with
  * `config.py`'s argparse flags (config.py:1-41).
  *
  * {{{
  * sbt "runMain graft.Run preprocess --data <附件2.txt> --result-dir /tmp/out \
  *      --percentage 0.7 --triple-percentage 0.7 --embedding-dim 16 \
  *      --n-epochs 5 --evaluate-every 1 --negative-sample 2 \
  *      --learning-rate 0.5 --reg-ratio 0.01 --seed 42"
  * sbt "runMain graft.Run first  --data <附件2.txt> --result-dir /tmp/out"
  * sbt "runMain graft.Run second --data <附件2.txt> --txn <附件4.txt> --result-dir /tmp/out"
  * }}}
  *
  * Flag names follow the reference where semantics carry over
  * (`--percentage`, `--triple-percentage`, `--embedding-dim`,
  * `--n-epochs`, `--evaluate-every`, `--negative-sample`,
  * `--learning-rate`, `--reg-ratio`); torch-only knobs (cuda, dropout,
  * n-bases) have no Spark counterpart and are not accepted.
  *
  * Independent work inside a stage runs concurrently on one session
  * (see [[graft.car.Lifecycles]]); so do the artifact writes of
  * `preprocess` (five parquet tables and `dictionary.json`) and of
  * `second` (two parquet tables). No flag controls this.
  */
object Run {

  /** Strict `--flag value` parsing: every token must open a flag that is
    * followed by a non-flag value (argparse-style). Misaligned or
    * valueless flags fail loudly instead of silently shifting the pairs.
    */
  private[graft] def parseFlags(args: Seq[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") =>
          loop(tail, acc + (k.stripPrefix("--") -> v))
        case k :: _ if k.startsWith("--") =>
          sys.error(s"flag $k is missing a value")
        case other :: _ =>
          sys.error(s"unexpected argument '$other' (flags are --name value)")
      }
    loop(args.toList, Map.empty)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.Run <preprocess|first|second> --data <path> [flags]")
    val cmd = args.head
    val flags = parseFlags(args.tail.toSeq)
    def flag(name: String, default: String) = flags.getOrElse(name, default)
    val dataPath = flags.getOrElse("data",
      sys.error("--data <attachment-2-style TSV> is required"))
    val resultDir = flag("result-dir", "/tmp/graft_result")

    val spark = GraftSession.builder(
        flag("master", s"local[${flag("cpus", "8")}]"),
        flag("shuffle-partitions", "32").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      cmd match {
        case "preprocess" =>
          val out = Lifecycles.preprocess(spark, dataPath,
            seed = flag("seed", "42").toLong,
            embeddingCfg = EmbeddingTrainer.Config(
              dim = flag("embedding-dim", "16").toInt,
              epochs = flag("n-epochs", "5").toInt,
              lr = flag("learning-rate", "0.5").toDouble,
              negRate = flag("negative-sample", "2").toInt,
              regRatio = flag("reg-ratio", "0.01").toDouble,
              evalEvery = flag("evaluate-every", "1").toInt,
              evalSample = flag("eval-sample", "200").toInt),
            embeddingPath = Some(s"$resultDir/embedding"),
            percentage = flag("percentage", "0.7").toDouble,
            triplePercentage = flag("triple-percentage", "0.7").toDouble)
          Concurrently.all(spark)(
            () => out.train.write.mode("overwrite").parquet(s"$resultDir/train_dataset"),
            () => out.dev.write.mode("overwrite").parquet(s"$resultDir/dev_dataset"),
            () => out.triplets.write.mode("overwrite").parquet(s"$resultDir/triplets"),
            () => out.entityVocab.write.mode("overwrite").parquet(s"$resultDir/entity_vocab"),
            () => out.relationVocab.write.mode("overwrite").parquet(s"$resultDir/relation_vocab"),
            () => Vocab.saveJson(out.vocab, s"$resultDir/dictionary.json"))
          println(s"[run] preprocess done: epochLoss=${out.epochLoss.mkString(",")}"
            + (if (out.bestEpoch >= 0)
                s" bestEpoch=${out.bestEpoch} mrrTrace=${out.mrrTrace.mkString(",")}"
              else ""))

        case "first" =>
          val repaired = Repair.repair(CarSources.readCarTest(spark, dataPath))
          val (train, dev) = Splits.shuffledSplit(repaired,
            flag("percentage", "0.7").toDouble, flag("seed", "42").toLong)
          // --embeddings <preprocess result-dir>: consume the pretrained
          // KG embeddings like first.py loads embedding.npz
          val pretrained = flags.get("embeddings").map { d =>
            Lifecycles.embeddingFeatures(
              EmbeddingStore.load(spark, s"$d/embedding/entity"),
              spark.read.parquet(s"$d/entity_vocab"))
          }
          val (submission, report) = Lifecycles.first(spark, train, dev,
            pretrained = pretrained)
          CarSources.writeSubmission(submission, s"$resultDir/submission")
          report.show(truncate = false)
          println(s"[run] first done: submission at $resultDir/submission")

        case "second" =>
          val txnPath = flags.getOrElse("txn",
            sys.error("--txn <attachment-4-style TSV> is required for second"))
          val car = Repair.repair(CarSources.readCarTrain(spark, dataPath))
          val txn = CarSources.readStoreTxn(spark, txnPath)
          val pretrained2 = flags.get("embeddings").map { d =>
            Lifecycles.embeddingFeatures(
              EmbeddingStore.load(spark, s"$d/embedding/entity"),
              spark.read.parquet(s"$d/entity_vocab"))
          }
          val (dealScored, datePrice) =
            Lifecycles.second(spark, car, txn, pretrained = pretrained2)
          Concurrently.all(spark)(
            () => dealScored.write.mode("overwrite").parquet(s"$resultDir/deal_scored"),
            () => datePrice.write.mode("overwrite").parquet(s"$resultDir/date_price"))
          println(s"[run] second done: outputs under $resultDir")

        case other =>
          sys.error(s"unknown command '$other' (preprocess|first|second)")
      }
    } finally spark.stop()
  }
}
