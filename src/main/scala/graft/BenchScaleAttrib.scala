package graft


/** Per-stage candidate-pair attribution for the two similarity-dedup
  * flagships at the gate-query parameters, across scale dirs — the
  * measurement companion to [[BenchScaleTwoDecades]]: its timing
  * slopes say a family accelerated between decades; this prints the
  * stage populations ([[graft.ops.ScaleStats]]) that attribute the
  * acceleration to a stage (bucket/cell fill vs shuffle volume).
  *
  * Usage: BenchScaleAttrib [dir ...]  (defaults: sf0.1, /tmp/graft-sf1)
  */
object BenchScaleAttrib {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft-sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)

    def j(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    dirs.foreach { dir =>
      val docs = Tables.load(spark, dir, "documents")
      val emb = Tables.load(spark, dir, "embeddings")
      // q_dedup_minhash parameters
      val mh = ops.ScaleStats.minhash(docs, "doc_id", "text",
        shingleN = 5, numHashes = 64, bands = 8, threshold = 0.8,
        maxBucket = 200, charShingles = true)
      println(s"""{"dir":"$dir","family":"minhash","stages":${j(mh)}}""")
      // r16 verdict carry-over: attribute q_dedup_minhash's hi→xhi
      // slope to a stage — sig CPU vs band/screen shuffle vs verify
      val mhp = ops.ScaleStats.minhashPhases(docs, "doc_id", "text",
        shingleN = 5, numHashes = 64, bands = 8, threshold = 0.8,
        maxBucket = 200, charShingles = true)
      println(s"""{"dir":"$dir","family":"minhash_phases","stages":${j(mhp)}}""")
      // q_dedup_semantic_fixed parameters (the pinned diagnostic)
      val se = ops.ScaleStats.semantic(emb, "vec_id", "embedding",
        threshold = 0.4, nCells = 8, replication = 2)
      println(s"""{"dir":"$dir","family":"semantic_fixed","stages":${j(se)}}""")
      // q_dedup_cluster parameters
      val cl = ops.ScaleStats.cluster(docs, "doc_id", "text", shingleN = 8)
      println(s"""{"dir":"$dir","family":"cluster","stages":${j(cl)}}""")
    }
    spark.stop()
  }
}
