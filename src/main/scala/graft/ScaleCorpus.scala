package graft

import org.apache.spark.sql.functions._

/** Synthesize an sf-N-EQUIVALENT corpus by union-replicating a source
  * sf dir `replicas` times — the second decade of scale evidence the
  * one-decade testdata cannot provide (BENCH_SCALE spans sf0.01→sf0.1
  * only; several slopes there are overhead-bound and prove nothing
  * about the asymptote).
  *
  * A naive copy would be the WRONG corpus: identical replicated text
  * gives every document `replicas-1` exact/near duplicates (pair
  * output grows quadratically in replicas — a different problem, not
  * 10× the same problem). Replication therefore preserves the
  * original's duplicate-rate structure:
  *
  *  - documents: `doc_id + k*10_000_000` (id-slice predicates like
  *    `doc_id % 20` are replica-invariant), text passed through a
  *    per-replica ALPHABET ROTATION (`translate`) — intra-replica
  *    shingle structure (planted near-dup pairs, shingle frequencies)
  *    is preserved exactly, while cross-replica shingle sets are
  *    disjoint, so the synthetic corpus behaves as `replicas`
  *    independent crawls of the source's statistics.
  *  - embeddings: `vec_id` remapped the same way, vectors multiplied
  *    element-wise by a per-replica deterministic ±1 mask — norms and
  *    intra-replica cosines are preserved EXACTLY, cross-replica
  *    cosines decorrelate to ~0 (random sign walk), so threshold/knn
  *    structure scales like independent corpora, not clone groups.
  *
  * Only the two corpus tables the dedup/ANN/pack/chunk families read
  * are written; TPC-H relational tables are out of scope (their scale
  * behavior is exercised by the sf family itself).
  *
  * Usage: ScaleCorpus <srcSfDir> <outDir> [replicas=10]
  */
object ScaleCorpus {

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  def main(args: Array[String]): Unit = {
    val (src, out, replicas) = args.toSeq match {
      case Seq(s, o) => (s, o, 10)
      case Seq(s, o, r) => (s, o, r.toInt)
      case _ => sys.error("usage: ScaleCorpus <srcSfDir> <outDir> [replicas]")
    }
    // 26 distinct alphabet rotations exist; replica 27 would reuse the
    // identity rotation and plant byte-identical clone groups — exactly
    // the wrong-corpus failure mode this tool exists to avoid
    require(replicas >= 1 && replicas <= 26,
      s"replicas must be in [1, 26] (got $replicas): only 26 distinct " +
        "alphabet rotations preserve cross-replica shingle disjointness")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)

    val docs = Tables.load(spark, src, "documents")
    val docReplicas = (0 until replicas).map { k =>
      val rot = alpha.drop(k % 26) + alpha.take(k % 26)
      docs.select(
        (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        translate(col("text"), alpha + alpha.toUpperCase,
          rot + rot.toUpperCase).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docReplicas.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.load(spark, src, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val embReplicas = (0 until replicas).map { k =>
      val rnd = new scala.util.Random(k * 7919L + 13)
      val mask: Seq[Float] = Seq.fill(dim)(if (rnd.nextBoolean()) 1f else -1f)
      emb.select(
        (col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
        zip_with(col("embedding"), typedLit(mask), (a, b) => a * b).as("embedding"))
    }
    embReplicas.reduce(_ unionAll _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"[scale-corpus] wrote $out: documents x$replicas, embeddings x$replicas from $src")
    spark.stop()
  }
}
