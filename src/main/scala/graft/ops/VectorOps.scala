package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, DataFrame}

/** Vector similarity primitives over embedding columns
  * (`array<float>`/`array<double>`), built on codegen'd higher-order
  * functions — no UDFs in the hot path.
  *
  * Determinism note: [[dot]]/[[norm]] fold left-to-right in double
  * precision, so results are bit-identical to any engine doing
  * sequential double arithmetic over the same values (the DuckDB oracle
  * uses `list_sum(list_transform(...))`, which matches exactly).
  */
object VectorOps {

  /** Cast an embedding column to array<double> (float32 parquet input). */
  def asDouble(v: Column): Column = transform(v, _.cast(DoubleType))

  /** The embedding column in its NATIVE array type when the similarity
    * kernels can take it directly (float or double — floats widen per
    * element inside the kernels, exactly), else cast to array<double>.
    * The r22 float-carry (guide §2.3 "narrower types"): embeddings are
    * stored float32 in parquet, and widening them BEFORE the pair-join
    * shuffles doubled the biggest shuffles in the engine for no change
    * in any result bit. Falls back to the cast for exotic element
    * types (or non-top-level columns, where the schema lookup fails). */
  private[ops] def carryVec(df: DataFrame, vecCol: String): Column =
    (try Some(df.schema(vecCol).dataType) catch { case _: Exception => None }) match {
      case Some(ArrayType(FloatType, _)) | Some(ArrayType(DoubleType, _)) => col(vecCol)
      case _ => asDouble(col(vecCol))
    }

  /** Sequential dot product: sum_i a_i*b_i, left-to-right. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm, sequential accumulation. */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity of two double-array columns — the native
    * [[graft.functions.CosineSim]] expression (codegen'd single pass,
    * same sequential operation order as the fold form, bit-identical
    * results). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.similarityExprs.cosine_sim(a, b)

  /** The pure-built-in cosine (interpreted higher-order fold) — kept
    * for reference and cross-checking against the native expression.
    * DIVERGES from [[cosine]] on degenerate input: a zero-norm vector
    * makes the division x/0, which THROWS under Spark 4's ANSI default
    * (NULL in legacy mode), and NaN components propagate NaN — which
    * sorts ABOVE every double in Spark's ordering. The native
    * expression returns NULL for both. Don't rank by this form. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k cosine neighbors for each query vector.
    *
    * Scale shape: `queries` is broadcast (small side by construction);
    * the corpus is scanned exactly once with no shuffle before the
    * per-query rank — the 100 TB plan is
    * scan → broadcast-nested-loop → window on query_id (tiny key space).
    * For large k or many queries use [[lshNeighbors]].
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms hoisted to one VecNorm per row on each side (r21): the
    // corpus×queries kernel pays the dot product alone per pair
    // (cosine_sim_pre — bit-identical to cosine_sim). Native element
    // types (r22 float-carry): no per-row array copy for the cast;
    // the kernels widen floats exactly.
    val q = broadcast(
      queries.select(
        col(idCol).as("query_id"),
        carryVec(queries, vecCol).as("__qv__"))
        .withColumn("__qn__",
          graft.functions.similarityExprs.vec_norm(col("__qv__"))))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), carryVec(corpus, vecCol).as("__cv__"))
      .withColumn("__cn__",
        graft.functions.similarityExprs.vec_norm(col("__cv__")))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.similarityExprs.cosine_sim_pre(
        col("__qv__"), col("__cv__"), col("__qn__"), col("__cn__")))
      // undefined similarity (null/zero-norm/NaN vectors) is not a
      // result: filtered BEFORE ranking so degenerate corpus rows
      // never occupy a top-k slot
      .filter(col("cosine").isNotNull)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** All pairs (query, neighbor) with cosine above `threshold`. */
  def cosineThreshold(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    // same hoisted-norm kernel as bruteForceTopK (r21); native element
    // types (r22 float-carry — see bruteForceTopK)
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), carryVec(queries, vecCol).as("__qv__"))
        .withColumn("__qn__",
          graft.functions.similarityExprs.vec_norm(col("__qv__"))))
    corpus
      .select(col(idCol).as("neighbor_id"), carryVec(corpus, vecCol).as("__cv__"))
      .withColumn("__cn__",
        graft.functions.similarityExprs.vec_norm(col("__cv__")))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.similarityExprs.cosine_sim_pre(
        col("__qv__"), col("__cv__"), col("__qn__"), col("__cn__")))
      .filter(col("cosine") > threshold)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Engine-portable +-1 sign: +1 iff the first hex digit of
    * md5("tag:j:i") is 0-7 (the hash's high bit). md5 exists in every
    * engine, so an oracle can regenerate the exact projection matrix
    * from the tag alone — no seeded PRNG to replicate. */
  private[ops] def md5Sign(tag: String, j: Int, i: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag:$j:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((h(0) >> 4) & 0xF) < 8) 1.0 else -1.0
  }

  /** Johnson-Lindenstrauss random projection with +-1 sign planes
    * (Achlioptas 2001: database-friendly random projections — sign
    * matrices preserve pairwise distances like Gaussians do):
    * out_j = (1/sqrt(outDim)) * sum_i sign(j,i) * v_i.
    *
    * The scale story: projecting 64-dim embeddings to 16 dims cuts
    * every downstream vector scan — SemDeDup cells, LSH signatures,
    * brute-force verify — to a quarter of the bandwidth while
    * approximately preserving cosine geometry. The sign matrix is
    * derived from md5("tag:j:i"), so the projection is reproducible
    * ANYWHERE (the q_project_rp oracle recomputes it in SQL), and the
    * kernel is one codegen'd pass per row ([[graft.functions.PlaneProject]]),
    * no shuffle, no stored model.
    *
    * Output: (idCol, `proj` array<double> of length outDim); null
    * vectors project to null. */
  def randomProject(
      df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, tag: String = "rp"): DataFrame = {
    require(outDim > 0, s"randomProject: outDim must be positive, got $outDim")
    val dimRow = df.select(size(col(vecCol)).as("__d__"))
      .filter(col("__d__").isNotNull).head(1)
    if (dimRow.isEmpty)
      return df.select(col(idCol), lit(null).cast("array<double>").as("proj"))
        .where(lit(false))
    val dim = dimRow(0).getInt(0)
    val planes: Seq[Seq[Double]] =
      (0 until outDim).map(j => (0 until dim).map(i => md5Sign(tag, j, i)))
    val factor = 1.0 / math.sqrt(outDim.toDouble)
    df.select(col(idCol),
      graft.functions.quantExprs.plane_project(
        asDouble(col(vecCol)), typedLit(planes), lit(factor)).as("proj"))
  }

  /** Deterministic random hyperplanes for sign-LSH, from a fixed seed. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Corpus-scale sign-LSH signatures: (id, vector, signature) rows via
    * the native [[graft.functions.SignLshSig]] expression — one
    * codegen'd pass over the vector per plane, zero shuffles beyond the
    * parallelism spread (see [[Dedup.spreadByKey]]: a plain repartition
    * is optimizer-removable). */
  def lshSignatures(
      df: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]]): DataFrame =
    // NATIVE element type through the spread (r22 float-carry): a
    // float32 corpus used to widen to double BEFORE this keyed
    // exchange — and before every banded pair shuffle carrying the
    // payload struct downstream — doubling their bytes. vec_norm,
    // sign_lsh_sig and cosine_sim_pre all take float directly and
    // widen per element (exact), so every signature, norm and cosine
    // is bit-identical to the cast form.
    Dedup.spreadByKey(
      df.select(col(idCol), carryVec(df, vecCol).as("__v0__")), idCol, "__v0__")
      .select(col("__id__"), col("__t__").as("__v__"),
        // norm hoisted to one VecNorm per ROW (r21): banded screens
        // evaluate a cosine per candidate PAIR — cosine_sim_pre over
        // this column cuts the pair kernel to the dot product
        // (bit-identical; see CosineSimPre)
        graft.functions.similarityExprs.vec_norm(col("__t__")).as("__nrm__"),
        graft.functions.similarityExprs.sign_lsh_sig(
          col("__t__"), typedLit(planes)).as("__sig__"))

  /** The posexplode + per-plane-aggregate formulation — the pure
    * built-in alternative (explode carries only (id, pos, component));
    * same results when dot-product accumulation order matches, but it
    * pays a full shuffle of every vector component plus a self-join.
    * Kept for reference/cross-checking; the native path is the hot one. */
  def lshSignaturesAgg(
      df: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]]): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val vecs = df
      .select(col(idCol).as("__id__"), asDouble(col(vecCol)).as("__v__"))
      .repartition(par)
    val sigs = vecs
      .select(col("__id__"), posexplode(col("__v__")).as(Seq("__pos__", "__x__")))
      .groupBy("__id__")
      .agg(array(planes.zipWithIndex.map { case (p, j) =>
        when(sum(col("__x__") * element_at(typedLit(p), col("__pos__") + 1)) >= 0, lit(1))
          .otherwise(lit(0)).as(s"b$j")
      }: _*).as("__sig__"))
    vecs.join(sigs, "__id__")
  }

  /** Approximate near-neighbor pairs via sign-LSH banding: vectors
    * sharing any band of `rowsPerBand` signature bits become candidates,
    * then exact cosine filters by `threshold`.
    *
    * Scale shape: one shuffle on (band, bucket-hash) — the classic LSH
    * trade; no O(n^2) cross join. Candidate pairs are generated inside
    * each bucket with a size cap to bound skew (a degenerate bucket of
    * m rows would otherwise emit m^2 pairs).
    */
  def lshNeighbors(
      df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 32, rowsPerBand: Int = 8,
      threshold: Double = 0.7, maxBucket: Int = 200,
      seed: Long = 42L): DataFrame = {
    require(nPlanes % rowsPerBand == 0, "nPlanes must be divisible by rowsPerBand")
    val nBands = nPlanes / rowsPerBand
    // hyperplane dimensionality probed from the first NON-NULL vector;
    // a corpus with none (empty, or every vector null) has no
    // neighbors — empty result, not a head-of-empty crash
    val dimRow = df.select(size(col(vecCol)).as("__d__"))
      .filter(col("__d__").isNotNull).head(1)
    if (dimRow.isEmpty)
      return df.select(col(idCol).as("id1"), col(idCol).as("id2"),
        lit(0.0).as("cosine")).where(lit(false))
    val dim = dimRow(0).getInt(0)
    val planes = hyperplanes(nPlanes, dim, seed)

    // payload = (vector, hoisted norm) struct: the screen's cosine per
    // candidate pair reduces to one dot product (cosine_sim_pre,
    // bit-identical to cosine_sim — see CosineSimPre)
    val sigs = lshSignatures(df, idCol, vecCol, planes)
      .select(col("__id__"),
        struct(col("__v__").as("v"), col("__nrm__").as("n")).as("__pv__"),
        col("__sig__"))

    LshBlocking.candidatePairs(sigs, nBands, rowsPerBand, maxBucket, payload = Some("__pv__"),
      screen = _.withColumn("cosine", graft.functions.similarityExprs.cosine_sim_pre(
          col("p1.v"), col("p2.v"), col("p1.n"), col("p2.n")))
        .filter(col("cosine") > threshold)
        .select(col("id1"), col("id2"), col("cosine")))
  }

  /** The standard LSH band plan (banding theory applied to sign-LSH):
    * per-plane agreement probability at cosine threshold t is
    * p = 1 − acos(t)/π, a band of `b` planes collides with p^b, and
    * `bands` bands reach recall 1 − (1 − p^b)^bands. `b` is sized so
    * an expected uniform bucket holds ~`targetBucket` rows
    * (b = ceil(log2(n / targetBucket)) — the knob fixed banding gets
    * wrong: BENCH_SCALE_r15 measured 4-bit bands saturating every
    * bucket at 20k+ vectors, 0 pairs), then `bands` is sized for
    * `recall` at t and capped at `maxBands` — the cost guard: a LOW
    * threshold makes p^b tiny and the band count explodes; sign-LSH
    * is a NEAR-dup instrument, and below ~0.6 the capped plan
    * honestly under-recalls rather than paying an unbounded
    * signature. Returns (nPlanes, rowsPerBand). */
  def lshPlan(n: Long, threshold: Double, targetBucket: Int = 64,
      recall: Double = 0.9, maxBands: Int = 50): (Int, Int) = {
    require(n >= 0, s"n must be non-negative, got $n")
    require(threshold > -1.0 && threshold < 1.0,
      s"threshold must be in (-1, 1), got $threshold")
    require(targetBucket >= 2, s"targetBucket must be >= 2, got $targetBucket")
    require(recall > 0.0 && recall < 1.0, s"recall must be in (0, 1), got $recall")
    require(maxBands >= 1, s"maxBands must be >= 1, got $maxBands")
    val b = math.max(1, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt)
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pb = math.pow(p, b)
    val bands =
      if (pb >= 1.0) 1
      else math.min(maxBands, math.max(1,
        math.ceil(math.log1p(-recall) / math.log1p(-pb)).toInt))
    (bands * b, b)
  }

  /** [[lshNeighbors]] with the band plan sized FROM the corpus
    * ([[lshPlan]]) — the corpus-sized-quantizer discipline applied to
    * LSH banding: fixed band bits saturate every bucket once the
    * corpus outgrows ~targetBucket·2^bits rows (and the all-capped
    * guard now trips loudly); this entry point re-plans with the
    * corpus, so growth widens the bands instead of saturating them.
    *
    * The planning count and the signature pass would otherwise each
    * execute the upstream plan in full, so the input — pruned to the
    * ONLY two columns this op reads (id + vector; never the corpus
    * text) — is persisted across both ([[Materialize.scoped]]) and
    * released once [[LshBlocking.candidatePairs]] has materialized the
    * (small) candidate set internally. One upstream execution total; a
    * lost candidate block is recomputed through the upstream again. */
  def lshNeighborsAuto(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.7, targetBucket: Int = 64,
      recall: Double = 0.9, maxBands: Int = 50,
      maxBucket: Int = 200, seed: Long = 42L): DataFrame = {
    val pinned = df.select(col(idCol), col(vecCol))
    Materialize.scoped(pinned) {
      val n = pinned.filter(col(vecCol).isNotNull).count()
      val (nPlanes, rowsPerBand) =
        lshPlan(n, threshold, targetBucket, recall, maxBands)
      lshNeighbors(pinned, idCol, vecCol, nPlanes, rowsPerBand, threshold,
        maxBucket, seed)
    }
  }
}
