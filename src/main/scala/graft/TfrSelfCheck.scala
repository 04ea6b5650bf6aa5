package graft

import org.apache.spark.sql.functions._

/** Closing-checklist companion for the TFRecord sink: re-runs the
  * q_train_pipeline tensor pipeline (mixture → BPE → EOS packing →
  * causal labels) and leaves BOTH the TFRecord shards and the
  * expected rows as JSONL, so `tools/tfrecord_check.py --expect`
  * (an independent stdlib-Python decoder written from the public
  * TFRecord/protobuf specs, sharing no code with the Scala
  * implementation) can re-decode the wire bytes — masked-CRC32C
  * framing included — and diff them against what the pipeline meant
  * to write. Any framing, CRC, or value deviation that graft's own
  * reader happens to mirror shows up here as a nonzero exit.
  *
  * Usage: TfrSelfCheck [sfDir] [outDir]
  *        (defaults /root/testdata/sf0.001, /tmp/graft-tfr-selfcheck)
  */
object TfrSelfCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-tfr-selfcheck"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)

    val corpus = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 300)
    val mixed = ops.Sampling.sampleByTemperature(
      corpus, col("doc_id"), "lang", targetDocs = 150, alpha = 0.5,
      salt = ":tp15")
    val seqs = ops.Packing.withCausalLabels(
      ops.Packing.packTokenIds(
        ops.Bpe.withTokenIds(mixed, "text", "ids", SparkEntry.bpeGateBc(spark)),
        "doc_id", "ids", seqLen = 32, padId = 0, bucketWidth = 100,
        sepId = Some(SparkEntry.packGateSepId)))
      .select("seq_id", "input_ids", "labels", "doc_offsets", "n_docs", "n_pad")

    val tfrDir = s"$outDir/seqs_tfr"
    sources.TfRecord.write(seqs, tfrDir)

    // expected.jsonl mirrors the checker's decode shape: tf.Example
    // int64 lists, keyed by feature name. Driver-bounded: the sf0.001
    // slice packs a few dozen sequences; cap loudly anyway.
    val rows = seqs.orderBy("seq_id").limit(100001).collect()
    require(rows.length <= 100000, "selfcheck corpus unexpectedly large")
    // Row.getAs returns mutable.ArraySeq for array columns — match the
    // collection root, not 2.13's immutable-Seq default alias
    def ints(v: Any): String = v match {
      case s: scala.collection.Seq[_] => s.map(_.toString).mkString("[", ",", "]")
      case null => "[]"
    }
    val jsonl = rows.map { r =>
      s"""{"seq_id":${r.getAs[Long]("seq_id")},""" +
        s""""input_ids":${ints(r.getAs[Seq[Int]]("input_ids"))},""" +
        s""""labels":${ints(r.getAs[Seq[Int]]("labels"))},""" +
        s""""doc_offsets":${ints(r.getAs[Seq[Int]]("doc_offsets"))},""" +
        s""""n_docs":${r.getAs[Int]("n_docs")},"n_pad":${r.getAs[Int]("n_pad")}}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "expected.jsonl"),
      jsonl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"""{"tfr_dir":"$tfrDir","expected":"$outDir/expected.jsonl","sequences":${rows.length}}""")
    spark.stop()
  }
}
