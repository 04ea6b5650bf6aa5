package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.LmModel

/** CCNet-style perplexity quality filtering (Wenzek et al. 2020 train
  * a small LM on a high-quality corpus and score the crawl; the LLaMA
  * and RedPajama pipelines kept the stage): a stupid-backoff trigram
  * model ([[graft.functions.LmModel]] — Brants et al. 2007) trained on
  * a MODEL-SIZED reference corpus, applied to an unbounded one.
  *
  * Scale shape: training is three hash-aggregations over the reference
  * corpus (native one-pass gram hashing, map-side partial counts); the
  * tables are collected ONCE behind a loud bound — the reference
  * corpus is Wikipedia-sized by design, the 100 TB side is the SCORED
  * corpus — sorted into primitive arrays and broadcast. Scoring is a
  * stateless per-row native pass (three binary searches per token), so
  * it fuses into the scan stage, shuffles nothing, and runs unchanged
  * on a streaming corpus. */
object LmScore {

  /** Train a stupid-backoff trigram model. `minCount` prunes lookup
    * entries below the threshold (their lookups then back off);
    * `totalTokens`/`vocabSize` are measured BEFORE pruning, on the
    * full reference corpus. Fails loudly when any count table exceeds
    * `maxEntries` — that is not a model-sized reference corpus. */
  def train(
      df: DataFrame, textCol: String, alpha: Double = 0.4,
      minCount: Long = 1L, maxEntries: Int = 50 * 1000 * 1000): Broadcast[LmModel] = {
    def countsOf(n: Int): DataFrame = df
      // explode_outer + null filter: the non-outer form's inferred
      // size() filter would sink the native gram pass into the scan
      // (same regression plan-audited on q_dedup_spans)
      .select(graft.functions.exprs.word_ngram_hash_seq(
        col(textCol).cast("string"), n).as("__grams"))
      .select(explode_outer(col("__grams")).as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy("__h").agg(count(lit(1)).as("__c"))

    // two actions read the unigram counts (the T/V aggregate and the
    // table collect) — cache so the reference corpus is tokenized and
    // aggregated once, not twice
    val uniCounts = countsOf(1)
    Materialize.scoped(uniCounts) {
      val Array(totalTokens, vocabSize) = uniCounts
        .agg(coalesce(sum("__c"), lit(0L)), count(lit(1)))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      require(totalTokens > 0L,
        "LmScore.train: the reference corpus has no tokens — every score " +
          "would be log10(1/0); train on a non-empty corpus")

      def collectSorted(cdf: DataFrame, order: String): (Array[Long], Array[Long]) = {
        val rows = cdf.filter(col("__c") >= minCount)
          .limit(maxEntries + 1).collect()
        require(rows.length <= maxEntries,
          s"LmScore.train: $order count table exceeds $maxEntries entries — " +
            "train on a model-sized reference corpus (or raise minCount/maxEntries)")
        val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        (pairs.map(_._1), pairs.map(_._2))
      }
      val (u1, c1) = collectSorted(uniCounts, "unigram")
      val (u2, c2) = collectSorted(countsOf(2), "bigram")
      val (u3, c3) = collectSorted(countsOf(3), "trigram")
      df.sparkSession.sparkContext.broadcast(
        LmModel(u1, c1, u2, c2, u3, c3, totalTokens, vocabSize, alpha))
    }
  }

  /** Persist a trained model as one small parquet table — a real
    * pipeline trains on the reference corpus once and scores many
    * runs. Layout: (`order` 1|2|3, `key`, `cnt`) count rows plus one
    * `order = 0` metadata row carrying (totalTokens, vocabSize) in
    * (key, cnt) and alpha in `alpha` (null elsewhere). */
  def saveModel(spark: org.apache.spark.sql.SparkSession,
      model: Broadcast[LmModel], path: String): Unit = {
    import spark.implicits._
    // rows materialize EXECUTOR-side out of the existing broadcast via
    // range+map — a driver-local Seq of boxed tuples would copy a
    // bound-sized model (~150M entries) at ~10x its primitive
    // footprint through the driver heap and a LocalRelation
    def orderRows(order: Int, n: Int) =
      spark.range(0, n.toLong).map { i =>
        val m = model.value
        val (ks, cs) = order match {
          case 1 => (m.uniKeys, m.uniCounts)
          case 2 => (m.biKeys, m.biCounts)
          case _ => (m.triKeys, m.triCounts)
        }
        (order, ks(i.toInt), cs(i.toInt), Option.empty[Double])
      }
    val m = model.value
    val meta = Seq((0, m.totalTokens, m.vocabSize, Option(m.alpha))).toDS()
    orderRows(1, m.uniKeys.length)
      .unionAll(orderRows(2, m.biKeys.length))
      .unionAll(orderRows(3, m.triKeys.length))
      .unionAll(meta)
      .toDF("order", "key", "cnt", "alpha")
      .write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[saveModel]] and broadcast it. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Broadcast[LmModel] = {
    val rows = spark.read.parquet(path)
      .select("order", "key", "cnt", "alpha").collect()
    def sorted(order: Int): (Array[Long], Array[Long]) = {
      val pairs = rows.filter(_.getInt(0) == order)
        .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      (pairs.map(_._1), pairs.map(_._2))
    }
    val meta = rows.find(_.getInt(0) == 0).getOrElse(
      sys.error(s"LmScore.loadModel: no metadata row in $path"))
    val (u1, c1) = sorted(1); val (u2, c2) = sorted(2); val (u3, c3) = sorted(3)
    spark.sparkContext.broadcast(LmModel(u1, c1, u2, c2, u3, c3,
      meta.getLong(1), meta.getLong(2), meta.getDouble(3)))
  }

  /** Per-token log10 scores as a column (array, one entry per token). */
  def tokenScores(textCol: Column, model: Broadcast[LmModel]): Column =
    graft.functions.exprs.lm_token_scores(textCol, model)

  /** One row per (document, token position) with the token's log10
    * stupid-backoff score — the exploded, oracle-comparable form. The
    * score array is materialized below the generator, and the OUTER
    * explode + null filter keeps the native pass out of the scan. */
  def scoreTokens(
      df: DataFrame, idCol: String, textCol: String,
      model: Broadcast[LmModel]): DataFrame = df
    .select(col(idCol), tokenScores(col(textCol).cast("string"), model).as("__sc"))
    .select(col(idCol), posexplode_outer(col("__sc")).as(Seq("pos", "logp")))
    .filter(col("logp").isNotNull)

  /** Mean per-token log10 score appended per document (null for
    * documents with no tokens — nothing to score). The standard
    * quality gate keeps documents above a score cut. */
  def withLmScore(
      df: DataFrame, textCol: String, model: Broadcast[LmModel],
      as: String = "lm_logprob"): DataFrame = {
    val sc = tokenScores(col(textCol).cast("string"), model)
    df.withColumn(as,
      when(size(sc) > 0, aggregate(sc, lit(0.0d), _ + _) / size(sc))
        .otherwise(lit(null).cast("double")))
  }
}
