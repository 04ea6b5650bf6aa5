package perfbench

import graft.functions.BpeModel
import graft.ops.{Bpe, Packing, Sampling}
import graft.sources.{Sources, TfRecord}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Training-data prep: temperature sampling of half the corpus, BPE
  * token ids, packing into 512-token sequences with EOS, causal labels,
  * a TFRecord write and its read-back. Many small jobs through
  * Sampling and Packing, so driver and scheduler overhead weigh much. */
final class TrainPack(docs: Int) extends BatchWorkload {
  /** Sequences, non-pad tokens and a content digest of the read-back. */
  final case class Summary(sequences: Long, nonPad: Long, pads: Long, digest: Long)
  type Out = Summary

  val SeqLen = 512
  val Merges = 200
  val Ignore = -100
  val Written: StructType = StructType(Seq(
    StructField("seq_id", LongType), StructField("input_ids", ArrayType(IntegerType)),
    StructField("labels", ArrayType(IntegerType)), StructField("doc_offsets", ArrayType(IntegerType)),
    StructField("n_pad", IntegerType)))

  private var path, out: String = _
  private var model: Broadcast[BpeModel] = _
  private var eos = 0
  /** Set on the first check: what the passes must reproduce. */
  private var reference: Option[Summary] = None

  def generate(spark: SparkSession, seed: Long, dir: Path): Unit = {
    path = dir.resolve("docs.parquet").toString
    out = dir.resolve("shards").toString
    val c = Gen.corpus(seed, docs)
    import spark.implicits._
    c.ids.indices.map(i => (c.ids(i), c.sources(i), c.texts(i)))
      .toDF("doc_id", "source", "text")
      .repartition(4)
      .write.mode("overwrite").parquet(path)
  }

  /** Trains the tokenizer: part of set-up, as a training job loads or
    * trains its tokenizer once before it prepares data. */
  override def prepare(spark: SparkSession): Unit = {
    val m = Bpe.train(spark.read.parquet(path), "text", Merges)
    eos = m.vocab.length
    model = Bpe.broadcastModel(spark, m)
  }

  private def sample(docs: DataFrame): DataFrame =
    Sampling.sampleByTemperature(docs, col("doc_id"), "source", this.docs / 2L, 0.5, "perfbench")

  private def pack(encoded: DataFrame): DataFrame =
    Packing.withCausalLabels(
      Packing.packTokenIds(encoded, "doc_id", "ids", SeqLen, sepId = Some(eos)), Ignore)
      .select(Written.fieldNames.map(col).toIndexedSeq: _*)

  private def packed(spark: SparkSession, t: Tracer): DataFrame = {
    val docs = t.span("sources", "parquet")(Sources.parquet(spark, path).toDF)
    val sampled = t.span("ops", "sample")(sample(docs))
    val encoded = t.span("functions", "bpe")(Bpe.withTokenIds(sampled, "text", "ids", model))
    t.span("ops", "pack")(pack(encoded))
  }

  private def summarize(df: DataFrame): Summary = {
    val r = df.agg(count(lit(1)), sum(lit(SeqLen) - col("n_pad")), sum(col("n_pad")),
      sum(pmod(xxhash64(Written.fieldNames.map(col).toIndexedSeq: _*), lit(1000000000000L)))).head()
    Summary(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def run(spark: SparkSession, t: Tracer): Out = {
    val seqs = packed(spark, t)
    t.span("sinks", "tfrecord_write")(TfRecord.write(seqs, out))
    t.span("sources", "tfrecord_read")(summarize(TfRecord.read(spark, out, Written)))
  }

  /** Sequences whose labels are not the next input id within a
    * document, or whose pad tail holds anything but the pad id. */
  private def badSequences(df: DataFrame): Long = df.filter(expr(
    s"""size(input_ids) != $SeqLen OR size(filter(sequence(0, ${SeqLen - 1}), i ->
      |  try_element_at(labels, i + 1) != CASE
      |    WHEN i + 1 < $SeqLen - n_pad AND NOT array_contains(doc_offsets, i + 1)
      |    THEN try_element_at(input_ids, i + 2) ELSE $Ignore END
      |  OR (i >= $SeqLen - n_pad AND try_element_at(input_ids, i + 1) != 0))) > 0""".stripMargin)).count()

  def check(spark: SparkSession, s: Out, corrupt: Boolean): Seq[String] = {
    val back = TfRecord.read(spark, out, Written)
    val got = if (!corrupt) s else summarize(back.withColumn("input_ids",
      when(col("seq_id") === 0, transform(col("input_ids"), x => x + 1)).otherwise(col("input_ids"))))
    val ref = reference.getOrElse {
      // computed once per run, apart from the timed passes: the token
      // total of the sampled documents, and the digest of the same
      // sequences built again without the write and read-back
      val docs = spark.read.parquet(path)
      val tokens = Bpe.withTokenIds(sample(docs), "text", "ids", model)
        .agg(sum(when(size(col("ids")) > 0, size(col("ids")) + 1).otherwise(0))).head().getLong(0)
      val rebuilt = summarize(pack(Bpe.withTokenIds(sample(docs), "text", "ids", model)))
      val bad = badSequences(back)
      val r = rebuilt.copy(nonPad = tokens, digest = if (bad == 0) rebuilt.digest else -1)
      reference = Some(r)
      r
    }
    Seq(
      "sequences" -> (got.sequences, ref.sequences),
      "non-pad tokens vs document tokens + EOS" -> (got.nonPad, ref.nonPad),
      "read-back digest vs written (and label check)" -> (got.digest, ref.digest))
      .collect { case (k, (g, w)) if g != w => s"$k: got $g, want $w" }
  }

  def layers(spark: SparkSession, t: Tracer, s: Out, probe: SparkCounters): Seq[(String, (String, Double))] = {
    val docs = spark.read.parquet(path)
    val back = TfRecord.read(spark, out, Written)
    val (readS, read) = Probe(probe)(Probe.noop(back))
    val (encS, _) = Probe(probe)(Probe.noop(Bpe.withTokenIds(docs, "text", "ids", model).select("ids")))
    val (sampleS, _) = Probe(probe)(Probe.noop(sample(docs)))
    val encoded = Bpe.withTokenIds(sample(docs), "text", "ids", model).select("doc_id", "ids").persist()
    encoded.count()
    val (packS, _) = Probe(probe)(Probe.noop(pack(encoded)))
    val seqs = pack(encoded).persist()
    seqs.count()
    val probeDir = java.nio.file.Paths.get(out).resolveSibling("shards_probe").toString
    val (writeS, _) = Probe(probe)(TfRecord.write(seqs, probeDir))
    seqs.unpersist(); encoded.unpersist()
    val (bytes, files) = Fs.sizeOf(java.nio.file.Paths.get(out))
    Seq(
      "sources.read_s" -> ("s", readS),
      "sources.rows" -> ("count", s.sequences.toDouble),
      "sources.input_bytes" -> ("B", read.inputBytes.toDouble),
      "functions.bpe_encode_s" -> ("s", encS),
      "ops.sample_s" -> ("s", sampleS),
      "ops.pack_s" -> ("s", packS),
      "ops.pack.sequences" -> ("count", s.sequences.toDouble),
      "ops.pack.pad_frac" -> ("ratio", s.pads.toDouble / (s.sequences * SeqLen)),
      "sinks.write_s" -> ("s", writeS),
      "sinks.bytes" -> ("B", bytes.toDouble),
      "sinks.files" -> ("count", files.toDouble))
  }
}
