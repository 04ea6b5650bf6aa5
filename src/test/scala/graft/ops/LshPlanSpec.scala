package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r15 scale sweep's finding, hardened: fixed LSH band bits
  * saturate every bucket once the corpus outgrows them (measured:
  * 4-bit bands at 20k+ vectors → 64/64 buckets capped → 0 pairs,
  * SILENTLY). Two responses under test here: the all-capped guard
  * (zero-pairs-by-saturation is now a loud contract error, in every
  * [[LshBlocking.candidatePairs]] family) and the corpus-sized band
  * plan ([[VectorOps.lshPlan]] / [[VectorOps.lshNeighborsAuto]] —
  * the corpus-sized-quantizer discipline applied to banding). */
class LshPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-lsh-plan")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("lshPlan: bits track corpus size, bands reach the recall target, caps hold") {
    // bits: expected uniform bucket ~targetBucket
    assert(VectorOps.lshPlan(100, 0.8)._2 == 1)          // 100/64 -> ceil(log2 1.56)=1
    assert(VectorOps.lshPlan(6400, 0.8)._2 == 7)         // ceil(log2 100)
    assert(VectorOps.lshPlan(6553600, 0.8)._2 == 17)     // ceil(log2 102400)
    // monotone in n
    val bs = Seq(100L, 10000L, 1000000L, 100000000L)
      .map(VectorOps.lshPlan(_, 0.8)._2)
    assert(bs == bs.sorted)
    // recall: when the band count is NOT capped, the plan's recall
    // formula clears the target
    Seq(0.7, 0.8, 0.9).foreach { t =>
      Seq(1000L, 100000L).foreach { n =>
        val (planes, b) = VectorOps.lshPlan(n, t, recall = 0.9)
        val bands = planes / b
        val p = 1.0 - math.acos(t) / math.Pi
        val r = 1.0 - math.pow(1.0 - math.pow(p, b), bands)
        if (bands < 50) assert(r >= 0.9, s"t=$t n=$n recall $r")
      }
    }
    // a HIGHER threshold (easier target) never needs more bands
    val loT = VectorOps.lshPlan(100000, 0.7)
    val hiT = VectorOps.lshPlan(100000, 0.9)
    assert(hiT._1 / hiT._2 <= loT._1 / loT._2)
    // the cost cap engages at weak thresholds instead of exploding
    val weak = VectorOps.lshPlan(1000000, 0.25, maxBands = 50)
    assert(weak._1 / weak._2 == 50)
    // argument validation
    intercept[IllegalArgumentException](VectorOps.lshPlan(-1, 0.8))
    intercept[IllegalArgumentException](VectorOps.lshPlan(10, 1.0))
    intercept[IllegalArgumentException](VectorOps.lshPlan(10, 0.8, recall = 1.0))
  }

  private def planted(nNoise: Int, seed: Long = 7L) = {
    // noise vectors plus planted near-dup pairs (small perturbations)
    val rnd = new scala.util.Random(seed)
    def vec() = Seq.fill(16)(rnd.nextGaussian())
    val noise = (0 until nNoise).map(i => (i.toLong, vec()))
    val planted = (0 until 10).flatMap { j =>
      val base = vec()
      val dup = base.map(_ + rnd.nextGaussian() * 0.02)
      Seq((1000L + 2 * j, base), (1001L + 2 * j, dup))
    }
    (noise ++ planted).toDF("vec_id", "embedding")
  }

  test("lshNeighborsAuto == lshNeighbors at the planned parameters; planted near-dups found") {
    val df = planted(400)
    val n = df.count()
    val (planes, b) = VectorOps.lshPlan(n, 0.9)
    val auto = VectorOps.lshNeighborsAuto(df, "vec_id", "embedding",
      threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val manual = VectorOps.lshNeighbors(df, "vec_id", "embedding",
      nPlanes = planes, rowsPerBand = b, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == manual)
    // recall on the planted pairs (cosine ~0.999, far above threshold):
    // the 0.9-recall plan over 10 pairs must find nearly all
    val found = (0 until 10).count(j => auto.contains((1000L + 2 * j, 1001L + 2 * j)))
    assert(found >= 8, s"found only $found of 10 planted near-dup pairs")
  }

  test("lshNeighborsAuto executes its upstream exactly once (the 100 TB encoder tax)") {
    // embeddingNearDups inherits this path; before the internal
    // persist, the planning count and the signature pass each ran the
    // upstream plan in full — with an expensive encoder upstream that
    // DOUBLED the dominant cost. An accumulator-counting identity UDF
    // on the vector column observes every upstream execution: the
    // count must equal the row count, not 2x it. (The result is
    // consumed too — candidatePairs materializes its pairs, so
    // downstream reads cannot re-trigger the upstream either.)
    val acc = spark.sparkContext.longAccumulator("upstream-rows")
    val observed = udf { (v: Seq[Double]) => acc.add(1L); v }
    val base = planted(200)
    val n = base.count()
    val df = base.withColumn("embedding", observed(col("embedding")))
    VectorOps.lshNeighborsAuto(df, "vec_id", "embedding", threshold = 0.9)
      .count()
    assert(acc.value == n,
      s"upstream executed ${acc.value}x rows for an n=$n corpus — " +
        "expected exactly one full pass")
  }

  test("all-capped banding fails loudly instead of silently emitting zero pairs") {
    // 50 identical vectors: every (band, bucket) holds all 50 — past
    // maxBucket=10 everywhere, and the pre-guard behavior was an EMPTY
    // result for a corpus that is wall-to-wall duplicates
    val clones = (0L until 50L).map(i => (i, Seq(1.0, 2.0, 3.0, 4.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException] {
      VectorOps.lshNeighbors(clones, "vec_id", "embedding",
        nPlanes = 8, rowsPerBand = 4, threshold = 0.5, maxBucket = 10).count()
    }
    assert(e.getMessage.contains("too coarse"))
    // same guard through the minhash family (shared candidatePairs)
    val dupDocs = (0L until 40L)
      .map(i => (i, "identical boilerplate text repeated across the crawl"))
      .toDF("id", "text")
    val e2 = intercept[IllegalStateException] {
      Dedup.minhashNearDups(dupDocs, "id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5,
        maxBucket = 5).count()
    }
    assert(e2.getMessage.contains("too coarse"))
    // a mixed corpus with at least one pairable bucket passes through
    // (per-bucket capping is the designed skew bound, not an error)
    val mixed = planted(100)
    assert(VectorOps.lshNeighborsAuto(mixed, "vec_id", "embedding",
      threshold = 0.9).count() >= 0)
    // empty and all-null corpora are legitimate no-pairs inputs
    assert(VectorOps.lshNeighbors(clones.filter(lit(false)), "vec_id",
      "embedding", 8, 4, 0.5).count() == 0)
    val nulls = Seq((1L, None: Option[Seq[Double]]), (2L, None))
      .toDF("vec_id", "embedding")
    assert(VectorOps.lshNeighbors(nulls, "vec_id", "embedding", 8, 4, 0.5)
      .count() == 0)
  }

  test("cross-corpus all-capped banding fails loudly too (zero-overlap-by-saturation)") {
    // a crawl that IS the reference, word for word: every cross-side
    // bucket holds all 30+30 members — past maxBucket=10 everywhere,
    // and the pre-guard behavior was "zero overlap" for total overlap
    val text = "identical boilerplate text repeated across the crawl today"
    val crawl = (0L until 30L).map((_, text)).toDF("id", "text")
    val ref = (100L until 130L).map((_, text)).toDF("id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.crossCorpusNearDups(crawl, ref, "id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5,
        maxBucket = 10).count()
    }
    assert(e.getMessage.contains("zero overlap"))
    // disjoint sides share no bucket: single-side buckets cannot pair
    // and must NOT trip the guard even when over the cap
    val refB = (100L until 130L)
      .map((_, "a completely different reference corpus line")).toDF("id", "text")
    assert(Dedup.crossCorpusNearDups(crawl, refB, "id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5,
      maxBucket = 10).count() == 0)
    // an empty side is a legitimate zero-overlap input
    assert(Dedup.crossCorpusNearDups(crawl.filter(lit(false)), ref, "id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5,
      maxBucket = 10).count() == 0)
  }

  test("gram-blocked cluster edges: all-capped grams fail loudly (zero-edges-by-saturation)") {
    // 30 identical docs: every shared gram appears in all 30 — past
    // maxDocsPerGram=10, and the pre-guard edge set was EMPTY, so a
    // cluster dedup over a wall-to-wall-duplicate corpus removed
    // nothing
    val text = "one two three four five six seven eight nine ten eleven twelve"
    val clones = (0L until 30L).map((_, text)).toDF("id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.sharedShingleEdges(clones, "id", "text",
        shingleN = 8, maxDocsPerGram = 10)
    }
    assert(e.getMessage.contains("maxDocsPerGram"))
    // a corpus with NO shared grams (capped == 0) legitimately has no
    // edges and passes through
    val distinctDocs = (0L until 20L)
      .map(i => (i, s"wholly distinct document number $i about topic $i"))
      .toDF("id", "text")
    assert(Dedup.sharedShingleEdges(distinctDocs, "id", "text",
      shingleN = 8, maxDocsPerGram = 10).count() == 0)
    // empty corpus passes through empty
    assert(Dedup.sharedShingleEdges(clones.filter(lit(false)), "id", "text",
      shingleN = 8, maxDocsPerGram = 10).count() == 0)
    // the lazy (composition) form stays lazy — building the plan runs
    // no guard action and does not throw
    val lazyPlan = Dedup.sharedShingleEdges(clones, "id", "text",
      shingleN = 8, maxDocsPerGram = 10, materialize = false)
    assert(lazyPlan.columns.toSeq == Seq("id1", "id2"))
  }

  test("mass-conditioned guard: isolated mega-dup island warns and emits empty, not throw") {
    // the r16 downgrade's OTHER arm, pinned: (capped > 0, pairable == 0)
    // but the capped buckets hold a MINORITY of the banding mass — a
    // mostly-unique corpus with one clone island. The island is larger
    // than maxBucket (the designed per-bucket skew bound skips it) and
    // the correct result is the EMPTY pair set with a warning, not an
    // IllegalStateException. Signatures are constructed directly so the
    // bucket layout is exact: 12 clones share one bucket per band
    // (12 > maxBucket=10 ⇒ capped, cappedMass = 24), 30 unique
    // signatures sit in singleton buckets (mass = 84; 24·2 < 84).
    val sigs = ((0L until 12L).map(i => (i, Seq(1, 1, 1, 1))) ++
      (100L until 130L).map(i => (i, Seq(i.toInt, i.toInt + 1, i.toInt + 2, i.toInt + 3))))
      .toDF("__id__", "__sig__")
    val pairs = LshBlocking.candidatePairs(sigs, bands = 2, rowsPerBand = 2,
      maxBucket = 10)
    assert(pairs.count() == 0)

    // same shape through the gram kernel: every doc shares an 8-word
    // boilerplate header (one gram in all 30 docs — over
    // maxDocsPerGram=10) but the bulk of each doc's grams are unique
    // (cappedMass·2 < mass) — warn + empty edge set, not a crash
    val header = "standard legal disclaimer header common to every page"
    val docs = (0L until 30L).map(i =>
      (i, header + " " + (0 until 20).map(j => s"doc${i}word$j").mkString(" ")))
      .toDF("id", "text")
    assert(Dedup.sharedShingleEdges(docs, "id", "text",
      shingleN = 8, maxDocsPerGram = 10).count() == 0)

    // and the corpus-wide saturation arm still throws (clone corpus:
    // capped grams carry ~all of the mass)
    val cloneText = "one two three four five six seven eight nine ten eleven twelve"
    val clones = (0L until 30L).map((_, cloneText)).toDF("id", "text")
    intercept[IllegalStateException] {
      Dedup.sharedShingleEdges(clones, "id", "text",
        shingleN = 8, maxDocsPerGram = 10)
    }

    // strict pipelines opt back into fail-loud: fraction 0 makes ANY
    // all-capped shape throw, mega-dup island or not (the r15 guard's
    // original contract, now a knob instead of gone)
    intercept[IllegalStateException] {
      LshBlocking.candidatePairs(sigs, bands = 2, rowsPerBand = 2,
        maxBucket = 10, saturationMassFraction = 0.0)
    }
    intercept[IllegalStateException] {
      Dedup.sharedShingleEdges(docs, "id", "text",
        shingleN = 8, maxDocsPerGram = 10, saturationMassFraction = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.sharedShingleEdges(docs, "id", "text",
        shingleN = 8, maxDocsPerGram = 10, saturationMassFraction = 1.5)
    }
  }
}
