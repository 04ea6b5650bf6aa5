package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Shared LSH banding machinery for MinHash / SimHash / sign-LSH:
  * signature → per-band buckets → within-bucket candidate pairs.
  *
  * Scale design (the reason this is its own module):
  *  - buckets carry only (id, signature/payload) — never raw feature
  *    sets; exact verification joins data back for candidates only.
  *  - bucket sizes are computed as a HASH AGGREGATION and oversized
  *    buckets are dropped via a semi-join before any pair is generated:
  *    a bucket with more than `maxBucket` members is non-discriminative
  *    by definition (its band carries no signal) and would otherwise
  *    produce O(maxBucket^2) pairs. A window count would do the same
  *    cap but forces a full sort per (band, bucket) partition — the
  *    aggregate + semi-join shape is sort-free and reuses the same
  *    (band, bucket) exchange for the self-join.
  *  - the caller's cheap per-pair `screen` (signature agreement /
  *    hamming / cosine) runs BEFORE the cross-band pair dedup, so the
  *    dedup shuffle moves only surviving candidates.
  *  - the result is materialized internally ([[Materialize.eager]],
  *    lineage kept) and every cached intermediate is unpersisted before
  *    returning: repeated downstream references read the materialized
  *    candidates instead of re-running the signature pipeline, and
  *    long-lived sessions don't accumulate leaked blocks.
  */
object LshBlocking {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** (id, payload, band, bucket) rows: one per (input row, band), the
    * bucket being a hash of that band's signature slice. */
  private[ops] def bandRows(
      sigs: DataFrame, bands: Int, rowsPerBand: Int, carry: String): DataFrame =
    sigs.select(
      col("__id__"), col(carry).as("__p__"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          hash(slice(col("__sig__"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket")))).as("bb"))
      .select(col("__id__"), col("__p__"), col("bb.band"), col("bb.bucket"))

  /** `df` must have columns `__id__` and `__sig__` (array); `payload`
    * optionally names an extra column to carry to both pair sides.
    * Generates within-bucket pairs (id1, id2, p1, p2) with id1 < id2,
    * applies `screen` (which must keep id1/id2 and filter/project the
    * rest), dedups pairs across bands, and returns the MATERIALIZED
    * result (no live cache entries remain). `df` is persisted for the
    * call.
    */
  def candidatePairs(
      df: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int, payload: Option[String] = None,
      screen: DataFrame => DataFrame = identity,
      saturationMassFraction: Double = 0.5): DataFrame = {
    require(saturationMassFraction >= 0.0 && saturationMassFraction <= 1.0,
      s"saturationMassFraction must be in [0, 1], got $saturationMassFraction")
    val carry = payload.getOrElse("__sig__")

    // Persist the INPUT (id, signature[, payload]; guardedPairs'
    // scratch below) rather than the banded frame: the banding projection references __sig__ once per
    // band slice plus the payload, and CollapseProject would inline the
    // (expensive) signature pipeline into every use — computing each
    // signature bands+1 times per row. The cache is a materialization
    // barrier, so signatures compute exactly once; re-deriving the
    // cheap explode/slice/hash from cache for the bucket-size aggregate
    // and both self-join sides costs almost nothing.
    //
    // No forced (band, bucket) repartition here — measured in r21 and
    // deleted in r22: every caller's signature frame already carries
    // spreadByKey's pinned keyed layout through the persisted cache,
    // so the pair join parallelizes without a second exchange, and a
    // forced one cost +8-30% across the minhash/simhash family (+20%
    // on the sign-LSH screens) for no gain. At cluster scale the
    // planner plans the same SMJ exchanges itself, AQE-sized.
    val banded = bandRows(df, bands, rowsPerBand, carry)

    // Bucket occupancy is computed ONCE and persisted — it feeds both
    // the all-capped guard below and the goodBuckets join side (the
    // aggregate is the banding pass over every (row, band); running
    // it twice cost the whole family ~10-35% when the guard first
    // landed). The counts frame is small: one row per occupied
    // (band, bucket). Its counters are observed as graft.lsh.buckets.
    val counters = Occupancy.selfCounters(col("__n__"), maxBucket)
    val bucketCounts = Occupancy.observed(
        banded.groupBy("band", "bucket").agg(count(lit(1)).as("__n__")),
        "graft.lsh.buckets", counters)
    val goodBuckets = bucketCounts
      .filter(col("__n__").between(2, maxBucket))
      .select("band", "bucket")

    val filtered = banded.join(goodBuckets, Seq("band", "bucket"), "left_semi")

    val raw = filtered
      .select(col("band"), col("bucket"), col("__id__").as("id1"), col("__p__").as("p1"))
      .join(
        filtered.select(col("band"), col("bucket"), col("__id__").as("id2"), col("__p__").as("p2")),
        Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("p1"), col("p2"))

    // ALL-capped guard (the semantic family's under-sized-quantizer
    // discipline, r15): when every multi-member (band, bucket)
    // exceeds maxBucket, the op would emit ZERO pairs — for a corpus
    // that may be wall-to-wall duplicates, the worst possible silent
    // answer (BENCH_SCALE_r15 measured exactly this: 4-bit bands at
    // 20k+ vectors → 64/64 buckets capped, 0 pairs). Fail loudly —
    // but only when the capped buckets hold most of the BANDING MASS
    // (signature rows), i.e. the saturation is corpus-wide (the
    // under-sized-banding shape: every doc lands in a capped bucket
    // in every band). A mostly-unique corpus with a few mega-dup
    // islands shows the same (capped > 0, pairable == 0) counts with
    // a small capped mass — skipping those islands is the designed
    // per-bucket skew bound, so the op warns and proceeds to the
    // empty pair set instead of crashing (r15 ADVICE refinement).
    // KNOWN BLIND SPOT of the 50% mass split: a corpus of genuine
    // near-dups whose banding rows are under half the mass (dup
    // islands in a large unique tail) warns instead of failing —
    // the cost of not crashing every mostly-unique corpus; raise
    // maxBucket when mega-dup islands should pair, or set
    // saturationMassFraction = 0 to restore the strict fail-loud
    // guard (any all-capped shape throws).
    Materialize.guardedPairs(
        Occupancy.counted(screen(raw).dropDuplicates("id1", "id2"), "graft.lsh.pairs"),
        Seq(df, bucketCounts), bucketCounts, counters) { occ =>
      val pairableBuckets = occ.getAs[Long]("pairable")
      val cappedBuckets = occ.getAs[Long]("capped")
      val cappedMass = occ.getAs[Long]("capped_rows")
      val mass = occ.getAs[Long]("rows")
      if (cappedBuckets > 0 && pairableBuckets == 0) {
        if (cappedMass >= saturationMassFraction * mass)
          throw new IllegalStateException(
            s"lsh blocking: all $cappedBuckets occupied multi-member buckets " +
              s"exceed maxBucket=$maxBucket and hold $cappedMass of $mass " +
              "banding rows — the banding is too coarse for this corpus " +
              "and zero pairs would be emitted. Widen the bands (more rows " +
              "per band; see VectorOps.lshPlan) or raise maxBucket.")
        else
          log.warn(
            s"lsh blocking: the only multi-member buckets ($cappedBuckets) " +
              s"all exceed maxBucket=$maxBucket, but they hold just " +
              s"$cappedMass of $mass banding rows — isolated mega-dup " +
              "islands in an otherwise-unique corpus are being skipped by " +
              "the bucket cap; emitting the empty pair set.")
      }
    }
  }

  /** Cross-frame variant: candidate pairs BETWEEN two signature frames
    * (each with `__id__`/`__sig__`), for corpus-vs-reference overlap.
    * Only CROSS-side bucket collisions generate pairs — a bucket whose
    * members all sit on one side is skipped by the size filter, and
    * there is no id1 < id2 constraint (the sides are different id
    * spaces; ids may even collide across them). The bucket cap applies
    * to the combined (band, bucket) population: a bucket that popular
    * is non-discriminative regardless of which side its members came
    * from. Same screen-then-dedup-then-materialize discipline as
    * [[candidatePairs]]; id1 is always the `a` side. */
  def crossCandidatePairs(
      a: DataFrame, b: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int, screen: DataFrame => DataFrame = identity,
      payload: Option[String] = None): DataFrame = {
    val carry = payload.getOrElse("__sig__")
    // no forced (band, bucket) repartition — see [[candidatePairs]]:
    // both sides inherit their signature frames' pinned spread
    val ba = bandRows(a, bands, rowsPerBand, carry)
    val bb = bandRows(b, bands, rowsPerBand, carry)
    // one PERSISTED aggregate over the tagged union yields total n and
    // b-side count nb (sum of the 0/1 tag) and feeds both the guard and
    // the good-bucket side (buckets with members on BOTH sides, under
    // the combined cap; the candidatePairs fusion discipline). Its
    // counters are observed as graft.lsh_cross.buckets, a bucket
    // forming (n − nb)·nb pairs
    val crossSide = col("__nb__") >= 1 && col("__nb__") < col("__n__")
    val counters = Occupancy.counters(col("__n__"), maxBucket, crossSide,
      (col("__n__") - col("__nb__")) * col("__nb__"))
    val tagged = Occupancy.observed(
        ba.withColumn("__s__", lit(0))
          .unionByName(bb.withColumn("__s__", lit(1)))
          .groupBy("band", "bucket")
          .agg(count(lit(1)).as("__n__"), sum(col("__s__")).as("__nb__")),
        "graft.lsh_cross.buckets",
        counters :+ coalesce(sum(col("__nb__")), lit(0L)).as("b_rows"))
    val good = tagged
      .filter(crossSide && col("__n__") <= maxBucket)
      .select("band", "bucket")
    val raw = ba.join(good, Seq("band", "bucket"), "left_semi")
      .select(col("band"), col("bucket"), col("__id__").as("id1"), col("__p__").as("p1"))
      .join(
        bb.join(good, Seq("band", "bucket"), "left_semi")
          .select(col("band"), col("bucket"), col("__id__").as("id2"), col("__p__").as("p2")),
        Seq("band", "bucket"))
      .select(col("id1"), col("id2"), col("p1"), col("p2"))
    // the candidatePairs all-capped guard, cross form: only buckets
    // with members on BOTH sides can pair, so only those count —
    // when every such bucket exceeds the cap, the op would report
    // ZERO overlap for a crawl that may be wall-to-wall copies of
    // the reference. Fail loudly; single-side buckets (no pairs
    // possible regardless) and mixed bandings pass through.
    Materialize.guardedPairs(
        Occupancy.counted(screen(raw).dropDuplicates("id1", "id2"), "graft.lsh_cross.pairs"),
        Seq(a, b, tagged), tagged, counters) { occ =>
      val pairableBuckets = occ.getAs[Long]("pairable")
      val cappedBuckets = occ.getAs[Long]("capped")
      if (cappedBuckets > 0 && pairableBuckets == 0)
        throw new IllegalStateException(
          s"lsh cross blocking: all $cappedBuckets cross-side buckets " +
            s"exceed maxBucket=$maxBucket — the banding is too coarse for " +
            "these corpora and zero overlap would be reported. Widen the " +
            "bands (more rows per band; see VectorOps.lshPlan) or raise " +
            "maxBucket.")
    }
  }
}
