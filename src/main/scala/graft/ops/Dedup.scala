package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication family for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale shapes (the whole point of each variant):
  *  - exact: one hash-aggregate shuffle on the fingerprint.
  *  - minhash/simhash LSH: shuffle on (band, bucket) — candidates only,
  *    never O(n^2); bucket size capped against skew.
  *  - embedding: sign-LSH via [[VectorOps.lshNeighbors]].
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Spread (id, payload) across the cluster before a heavy per-row
    * projection. A plain `repartition(n)` is NOT enough: Catalyst may
    * eliminate a round-robin exchange that a later shuffle supersedes,
    * silently moving the expensive projection back into the scan stage
    * (one task for a single-file input). A group-by-key aggregation is
    * semantically load-bearing, so its exchange survives every
    * optimizer pass, and anything projected above the final aggregate
    * runs post-shuffle in parallel. Requires `idCol` unique. */
  private[ops] def spreadByKey(df: DataFrame, idCol: String, valCol: String): DataFrame =
    df.select(col(idCol).as("__id__"), col(valCol).as("__t__"))
      // explicit-count repartition BY THE GROUP KEY: satisfies the
      // aggregation's distribution (no second exchange) while pinning
      // the post-shuffle partition count — AQE's byte-based coalescing
      // would otherwise shrink this exchange to ~1 partition for small
      // inputs and serialize the heavy projection the spread exists
      // for (measured: the whole signature pipeline in ONE task at
      // bench scale). See [[Par.pinned]].
      .repartition(Par.pinned(df), col("__id__"))
      .groupBy("__id__")
      // min, not first: ids are unique by contract (identical result,
      // same one-pass hash agg), but a crawler re-emitting an id must
      // not make every downstream dedup verdict partition-order-
      // dependent — min picks a deterministic winner (and, unlike
      // first, skips nulls when a non-null duplicate exists)
      .agg(min(col("__t__")).as("__t__"))

  /** Exact dedup on normalized-text fingerprint: keeps the row with the
    * smallest `orderCol` per fingerprint (deterministic winner).
    * One `min_by` hash aggregation (map-side partial combine) — no
    * per-fingerprint sort; a row_number window would sort every
    * partition of a 100 TB corpus just to pick one row per key.
    * The ordering is struct(isNull, value): min_by ignores null
    * orderings, so a group of all-null `orderCol` rows would otherwise
    * collapse to a fabricated all-null row. */
  def exact(df: DataFrame, textCol: String, orderCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("__fp__"))
      .agg(min_by(struct(df.columns.toIndexedSeq.map(col): _*),
        struct(col(orderCol).isNull, col(orderCol))).as("__r__"))
      .select("__r__.*")

  /** Drop every corpus document whose normalized-text fingerprint
    * appears in `reference` — EXACT cross-corpus dedup (an incremental
    * crawl against the already-shipped training set; the near-dup
    * analogue is [[crossCorpusDedup]]). Built for reference sets of
    * billions of fingerprints: a Bloom filter over the reference
    * fingerprint hashes is built DISTRIBUTED and broadcast (~1.2 bytes
    * per fingerprint at `fpp` 1%), each corpus document probes it with
    * one codegen'd scalar test, and — bloom error being one-sided —
    * only flagged documents re-enter the exact fingerprint semi-join,
    * so verdicts are exact while the join input shrinks to true
    * duplicates + ~`fpp` of the corpus. `broadcastReference = false`
    * shuffles the verify instead — for a reference too big even for
    * its distinct-fingerprint frame to broadcast; the corpus side of
    * that shuffle is already bloom-cut. Null-text documents have no
    * fingerprint and are always kept. */
  def exactCrossDedup(
      corpus: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      fpp: Double = 0.01, broadcastReference: Boolean = true): DataFrame =
    exactCrossDedupByFingerprint(corpus,
      reference.select(TextOps.fingerprint(col(textCol)).as("__cat_fp__")),
      "__cat_fp__", idCol, textCol, fpp, broadcastReference)

  /** [[exactCrossDedup]] against a persisted fingerprint CATALOG — the
    * incremental form a real pipeline runs: each shipped batch appends
    * `fingerprints(df, textCol)` to a catalog table, and the next
    * crawl dedups against the catalog without ever re-reading shipped
    * TEXT (fingerprints are ~32 bytes/doc; the corpus they summarize
    * is not). Same bloom-prefilter + exact-verify shape and the same
    * verdicts as the text form. */
  def exactCrossDedupByFingerprint(
      corpus: DataFrame, catalog: DataFrame, catalogFpCol: String,
      idCol: String, textCol: String,
      fpp: Double = 0.01, broadcastReference: Boolean = true,
      approximate: Boolean = false): DataFrame = {
    require(fpp > 0 && fpp < 1,
      s"exactCrossDedup: fpp must be in (0,1), got $fpp")
    // a BINARY catalog column would cast to mojibake strings and
    // silently match nothing — fingerprints are md5 hex STRINGS
    // ([[fingerprints]]); fail loudly on anything else
    require(catalog.schema(catalogFpCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"exactCrossDedupByFingerprint: catalog column $catalogFpCol is " +
        s"${catalog.schema(catalogFpCol).dataType.simpleString}, expected " +
        "string (the md5 hex form fingerprints() writes)")
    // cached across the two eager uses (count + bloom build), released
    // before returning; the lazy verify join recomputes it once
    val refFps = catalog
      .select(col(catalogFpCol).as("__fp__"))
      .filter(col("__fp__").isNotNull).distinct()
    val bloom = Materialize.scoped(refFps) {
      val nFps = refFps.count()
      Option.when(nFps > 0)(refFps.select(xxhash64(col("__fp__")).as("__h__"))
        .stat.bloomFilter("__h__", nFps, fpp))
    }
    if (bloom.isEmpty) return corpus
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom.get)
    // probe gated on the fingerprint: xxhash64(NULL) yields the seed,
    // not NULL, so an ungated probe would give every null-text doc the
    // same constant key and one bloom false positive on it would drop
    // them all — violating "null-text documents are always kept"
    val probeFp = TextOps.fingerprint(col(textCol))
    val maybe = coalesce(
      when(probeFp.isNotNull,
        graft.functions.exprs.bloom_might_contain(xxhash64(probeFp), bc)),
      lit(false))
    // approximate = bloom-only: a pure stateless filter, so a
    // STREAMING ingest can dedup against the shipped catalog on the
    // stream (one-sided: every true duplicate drops, plus ~fpp of
    // clean docs — the decontaminateBloom trade, same reasoning)
    if (approximate) return corpus.filter(!maybe)
    val dupIds = corpus.filter(maybe)
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("__fp__"))
      .join(if (broadcastReference) broadcast(refFps) else refFps,
        Seq("__fp__"), "left_semi")
      .select(idCol).distinct()
    // anti-join left to the planner: a recrawl where a large corpus
    // fraction duplicates the reference makes dupIds un-broadcastable
    corpus.join(dupIds, Seq(idCol), "left_anti")
  }

  /** The fingerprint projection to APPEND to a shipped-set catalog
    * after each batch — the persistent state [[exactCrossDedupByFingerprint]]
    * dedups the next crawl against. */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull).distinct()

  /** The catalog WRITE half of the incremental-crawl loop: the merged
    * catalog after shipping `shipped` — existing entries plus the
    * shipped batch's fingerprints, distinct. Run it on the survivors of
    * [[exactCrossDedupByFingerprint]] each batch and the catalog stays
    * the exact fingerprint set of everything ever shipped, without the
    * shipped text ever being re-read (and union+distinct is one
    * hash aggregation on the ~32 B/doc projection — no wide shuffle).
    * Same column-type guard as the read half: a binary catalog column
    * would silently match nothing forever. */
  def updateFingerprintCatalog(
      catalog: DataFrame, catalogFpCol: String,
      shipped: DataFrame, textCol: String): DataFrame = {
    require(catalog.schema(catalogFpCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"updateFingerprintCatalog: catalog column $catalogFpCol is " +
        s"${catalog.schema(catalogFpCol).dataType.simpleString}, expected " +
        "string (the md5 hex form fingerprints() writes)")
    catalog.select(col(catalogFpCol).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
      .union(fingerprints(shipped, textCol))
      .distinct()
  }

  /** Candidate near-dup pairs via LSH banding of the MinHash signature.
    *
    * Buckets carry only (id, signature); candidates are screened by
    * MinHash signature agreement (an unbiased Jaccard estimator), and —
    * when `exactVerify` — the shingle sets are joined back for the
    * surviving candidates only and exact Jaccard is computed. Returns
    * (id1, id2, jaccard) with jaccard >= threshold, id1 < id2.
    */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 200,
      exactVerify: Boolean = true,
      charShingles: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands

    // char mode shingles inside the native expression (no intermediate
    // array); word mode shingles via the codegen'd split + native sig.
    // The heavy projection sits above a BY-KEY aggregation so it runs
    // post-shuffle across the cluster (see Dedup.spreadByKey).
    val sigs = spreadByKey(df, idCol, textCol)
      .select(col("__id__"),
        (if (charShingles)
          graft.functions.exprs.minhash_char_sig(
            TextOps.normalized(col("__t__")), shingleN, numHashes)
        else
          graft.functions.exprs.minhash_sig(
            TextOps.shingles(col("__t__"), shingleN), numHashes)).as("__sig__"))

    // signature agreement = estimated Jaccard; screened with a safety
    // margin inside candidatePairs (before its cross-band dedup), which
    // returns the survivors MATERIALIZED — the candidate-id union and
    // the final verify join below re-read them without re-running the
    // signature pipeline, and no cache entry outlives this call
    val screened = LshBlocking.candidatePairs(sigs, bands, r, maxBucket,
      screen = _.withColumn("est_jaccard",
          graft.functions.similarityExprs.sig_agreement(col("p1"), col("p2")))
        .filter(col("est_jaccard") >= threshold * 0.5)
        .select(col("id1"), col("id2"), col("est_jaccard")))

    if (!exactVerify)
      screened.filter(col("est_jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("est_jaccard").as("jaccard"))
    else {
      // build shingle SETS only for documents that survived screening:
      // candidates << corpus, so the (interpreted) array construction
      // runs over a few hundred rows, not the whole input — and that is
      // also the only shape that works at 100 TB
      val shingler: (Column, Int) => Column =
        if (charShingles) TextOps.charShingles else TextOps.shingles
      val candidateIds = screened.select(col("id1").as("__sid__"))
        .union(screened.select(col("id2").as("__sid__"))).distinct()
      val shingleSets = candidateShingleSets(df, idCol, textCol, candidateIds, shingler, shingleN)
      screened
        .join(shingleSets.withColumnRenamed("__sid__", "id1").withColumnRenamed("__sh__", "sh1"),
          Seq("id1"))
        .join(shingleSets.withColumnRenamed("__sid__", "id2").withColumnRenamed("__sh__", "sh2"),
          Seq("id2"))
        .withColumn("jaccard",
          graft.functions.similarityExprs.jaccard_sim(col("sh1"), col("sh2")))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("jaccard"))
    }
  }

  /** Above this many exact-verify candidates the shingle sets stop being
    * driver/broadcast material and the verify joins shuffle instead. */
  private val maxBroadcastCandidates = 10000

  /** Distinct shingle sets for the candidate rows of `src` named by
    * `candidateIds` (a one-column `__sid__` frame) — the exact-verify
    * data-join used by [[minhashNearDups]] and [[crossCorpusNearDups]].
    *
    * The interpreted shingle projection must sit above a by-key
    * aggregation ([[spreadByKey]]), or it runs inside the scan stage —
    * one task for a single-file input with the id-IN-list pushed down,
    * serializing the most expensive per-row work of the verify.
    * `candidateIds` is materialized and bounded upstream (bucket cap +
    * screen), so the id set is knowable up front. When it is small —
    * the normal case — pull the ids to the driver: the shingle build
    * becomes an id-IN-list PUSHED INTO the parquet scan (row-group
    * skipping) and the verify joins broadcast, zero shuffles. A big
    * candidate set falls back to semi-join + shuffle-hash (the
    * planner's size estimate for wide array rows oscillates around the
    * broadcast threshold, so the hint keeps it off the slow
    * broadcast-megabytes path). */
  private def candidateShingleSets(
      src: DataFrame, idCol: String, textCol: String,
      candidateIds: DataFrame,
      shingler: (Column, Int) => Column, shingleN: Int): DataFrame = {
    val ids = candidateIds.limit(maxBroadcastCandidates + 1).collect().map(_.get(0))
    candidateShingleSetsFromIds(src, idCol, textCol, ids, candidateIds,
      shingler, shingleN)
  }

  /** [[candidateShingleSets]] with the (capped) id array ALREADY
    * collected — so [[crossCorpusNearDups]] can pull both sides' id
    * sets in ONE driver action (r22; was one collect per side). `ids`
    * must be `candidateIds.limit(maxBroadcastCandidates + 1)`'s rows:
    * the length-vs-cap test and both build paths are unchanged. */
  private def candidateShingleSetsFromIds(
      src: DataFrame, idCol: String, textCol: String,
      ids: Array[Any], candidateIds: DataFrame,
      shingler: (Column, Int) => Column, shingleN: Int): DataFrame = {
    def sets(s: DataFrame): DataFrame =
      spreadByKey(s.select(col(idCol), col(textCol)), idCol, textCol)
        .select(col("__id__").as("__sid__"),
          array_distinct(shingler(col("__t__"), shingleN)).as("__sh__"))
    if (ids.length <= maxBroadcastCandidates)
      broadcast(sets(src.filter(col(idCol).isin(ids.toIndexedSeq: _*))))
    else
      sets(src.join(candidateIds, src(idCol) === candidateIds("__sid__"), "left_semi"))
        .hint("shuffle_hash")
  }

  /** (id, native minhash signature) under internal names — shared by
    * the text-fed cross paths and the catalog projection. */
  private[ops] def nativeSigs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, charShingles: Boolean): DataFrame =
    spreadByKey(df, idCol, textCol)
      .select(col("__id__"),
        (if (charShingles)
          graft.functions.exprs.minhash_char_sig(
            TextOps.normalized(col("__t__")), shingleN, numHashes)
        else
          graft.functions.exprs.minhash_sig(
            TextOps.shingles(col("__t__"), shingleN), numHashes)).as("__sig__"))

  /** The signature-catalog projection to persist after shipping a
    * batch: (id, minhash signature) under the native hash family —
    * the NEAR-dup analogue of [[fingerprints]]. Store it instead of
    * (or alongside) shipped text; [[crossCorpusDedupBySignatures]]
    * dedups the next crawl against the catalog without re-reading, or
    * even retaining, the shipped corpus text (a 64-hash signature is
    * ~512 bytes/doc; the text is not). Signatures only compare within
    * one family and shape — record (charShingles, shingleN, numHashes)
    * with the table and reuse identical values on the corpus side. */
  def signatureCatalog(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64,
      charShingles: Boolean = false): DataFrame =
    // a null-text doc degenerates to the empty-text shingle and would
    // sit in the catalog FOREVER, near-dup-matching every empty doc of
    // every future crawl — content-less entries are excluded, like
    // [[fingerprints]] excludes null fingerprints
    nativeSigs(df.filter(col(textCol).isNotNull), idCol, textCol,
      shingleN, numHashes, charShingles)
      .select(col("__id__").as("id"), col("__sig__").as("sig"))

  /** Drop every corpus document that near-duplicates ANY entry of a
    * PERSISTED signature catalog ([[signatureCatalog]]). Verdicts are
    * screen-level — signature agreement ≥ `threshold` — because the
    * catalog carries no text to exact-verify against; the estimator's
    * standard error is ~sqrt(j(1-j)/numHashes), so tighten with more
    * hashes if the threshold band matters. Same capped cross-side-only
    * banding as [[crossCorpusNearDups]]: the corpus is never
    * self-joined, and the catalog side reads (id, sig) only. */
  def crossCorpusDedupBySignatures(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogSigCol: String,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 200,
      charShingles: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    // a catalog written with a different signature width would not
    // error anywhere downstream — bands would just stop colliding and
    // the dedup silently finds (almost) nothing. Probe one row and
    // fail loudly instead; shingleN/charShingles remain the caller's
    // contract to match (scaladoc) — width is the cheap detectable half
    catalog.select(size(col(catalogSigCol))).limit(1).collect()
      .foreach { r0 =>
        require(r0.getInt(0) == numHashes,
          s"crossCorpusDedupBySignatures: catalog signatures have " +
            s"${r0.getInt(0)} hashes but numHashes = $numHashes — the " +
            "catalog must be built and queried with the same " +
            "(charShingles, shingleN, numHashes)")
      }
    val screened = LshBlocking.crossCandidatePairs(
      nativeSigs(corpus, idCol, textCol, shingleN, numHashes, charShingles),
      catalog.select(col(catalogIdCol).as("__id__"),
        col(catalogSigCol).as("__sig__")),
      bands, r, maxBucket,
      // the banding dedups cross-band repeats on (id1, id2) after the
      // screen — both ids must survive the projection
      screen = _.withColumn("est_jaccard",
          graft.functions.similarityExprs.sig_agreement(col("p1"), col("p2")))
        .filter(col("est_jaccard") >= threshold)
        .select(col("id1"), col("id2")))
    corpus.join(screened.select(col("id1").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Cross-corpus near-duplicate pairs: every (corpus `id1`, reference
    * `id2`, jaccard >= threshold) — the "does my new crawl overlap the
    * existing training set" primitive, also the scale path for deduping
    * against data already shipped in a previous training run. Same
    * signature family, banding, screening, and exact-verify discipline
    * as [[minhashNearDups]], but candidates come from CROSS-side bucket
    * collisions only ([[LshBlocking.crossCandidatePairs]]): the corpus
    * is never self-joined, and a reference that is small relative to
    * the corpus adds one broadcast-sized banding side, not a shuffle of
    * the corpus. */
  def crossCorpusNearDups(
      corpus: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 200,
      exactVerify: Boolean = true,
      charShingles: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    val screened = LshBlocking.crossCandidatePairs(
      nativeSigs(corpus, idCol, textCol, shingleN, numHashes, charShingles),
      nativeSigs(reference, idCol, textCol, shingleN, numHashes, charShingles),
      bands, r, maxBucket,
      screen = _.withColumn("est_jaccard",
          graft.functions.similarityExprs.sig_agreement(col("p1"), col("p2")))
        .filter(col("est_jaccard") >= threshold * 0.5)
        .select(col("id1"), col("id2"), col("est_jaccard")))
    if (!exactVerify)
      screened.filter(col("est_jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("est_jaccard").as("jaccard"))
    else {
      val shingler: (Column, Int) => Column =
        if (charShingles) TextOps.charShingles else TextOps.shingles
      val cand1 = screened.select(col("id1").as("__sid__")).distinct()
      val cand2 = screened.select(col("id2").as("__sid__")).distinct()
      // ONE driver action pulls both sides' (capped) candidate-id sets
      // off the materialized pair frame (r22; was one collect per
      // side — the r21 "Not yet optimized" item): each branch keeps
      // its own distinct+limit, so the per-side rows and the over-cap
      // fallback are exactly what the two collects produced. Falls
      // back to per-side collects only when the two id columns differ
      // in TYPE (a union cannot mix them).
      val (ids1, ids2) =
        if (screened.schema("id1").dataType == screened.schema("id2").dataType) {
          val both = cand1.select(lit(0).as("__side__"), col("__sid__"))
            .limit(maxBroadcastCandidates + 1)
            .unionAll(cand2.select(lit(1).as("__side__"), col("__sid__"))
              .limit(maxBroadcastCandidates + 1))
            .collect()
          (both.filter(_.getInt(0) == 0).map(_.get(1)),
            both.filter(_.getInt(0) == 1).map(_.get(1)))
        } else
          (cand1.limit(maxBroadcastCandidates + 1).collect().map(_.get(0)),
            cand2.limit(maxBroadcastCandidates + 1).collect().map(_.get(0)))
      val sets1 = candidateShingleSetsFromIds(corpus, idCol, textCol,
        ids1, cand1, shingler, shingleN)
      val sets2 = candidateShingleSetsFromIds(reference, idCol, textCol,
        ids2, cand2, shingler, shingleN)
      screened
        .join(sets1.withColumnRenamed("__sid__", "id1").withColumnRenamed("__sh__", "sh1"),
          Seq("id1"))
        .join(sets2.withColumnRenamed("__sid__", "id2").withColumnRenamed("__sh__", "sh2"),
          Seq("id2"))
        .withColumn("jaccard",
          graft.functions.similarityExprs.jaccard_sim(col("sh1"), col("sh2")))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("jaccard"))
    }
  }

  /** Drop every corpus document that near-duplicates ANY reference
    * document (cross-corpus dedup). The reference frame is left
    * untouched — only corpus rows are filtered, via one anti-join on
    * the distinct hit ids. */
  def crossCorpusDedup(
      corpus: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, charShingles: Boolean = false): DataFrame = {
    val hits = crossCorpusNearDups(corpus, reference, idCol, textCol,
      shingleN, numHashes, bands, threshold, charShingles = charShingles)
      .select(col("id1").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Greedy near-dup removal: drops every row that appears as the larger
    * id of a qualifying pair (keep-smallest; connected components are
    * approximated greedily — a single anti-join, but with pairs
    * (A,C) and (B,C) only (A<B<C near-dup via the shared C), greedy
    * keeps BOTH A and B while the transitive answer keeps just A. For
    * the transitive answer use [[minhashClusterDedup]]). */
  def minhashDedup(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val losers = minhashNearDups(df, idCol, textCol, shingleN, numHashes, bands, threshold)
      .select(col("id2").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** TRANSITIVE MinHash near-dup removal: LSH pairs → connected
    * components → keep the smallest id per duplicate cluster. Same
    * pair generation as [[minhashDedup]]; the cluster step
    * ([[clusterDedup]]) replaces the greedy rule so every duplicate
    * cluster keeps exactly ONE document regardless of which pairs the
    * LSH emitted. */
  def minhashClusterDedup(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, charShingles: Boolean = false): DataFrame = {
    requireIntegralId(df, idCol, "minhashClusterDedup")
    // materialize the (tiny) verified pair set ONCE: connected
    // components reads its edge input twice (normalize + node set), and
    // an unmaterialized input would re-run the whole LSH screen +
    // exact-verify pipeline each time — measured ~1.5x the query cost
    val pairs = Materialize.eager(minhashNearDups(df, idCol, textCol, shingleN,
      numHashes, bands, threshold, charShingles = charShingles))
    clusterDedup(df, idCol, pairs)
  }

  /** SimHash signature as array<int> of `bits` sign bits. Bit i uses an
    * independent per-bit token hash (xxhash64(token, i)) — equivalent
    * strength to slicing one 64-bit hash, and the bit-array form avoids
    * variable shifts and slices directly into bands. */
  def simhashSignature(textCol: Column, bits: Int = 64): Column =
    // token array once-bound: unbound it re-tokenizes per bit (64x)
    TextOps.once(TextOps.tokens(TextOps.normalized(textCol))) { toks =>
      transform(sequence(lit(0), lit(bits - 1)), i =>
        when(aggregate(toks, lit(0L),
          (acc, t) => acc + when(pmod(xxhash64(t, i), lit(2)) === 1, lit(1L)).otherwise(lit(-1L))) >= 0,
          lit(1)).otherwise(lit(0)))
    }

  /** Corpus-scale SimHash signatures via the native
    * [[graft.functions.SimHashSig]] expression — one hash per token,
    * one pass per row, no shuffle; repartitioned for parallelism. */
  def simhashSignatures(
      df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame =
    spreadByKey(df, idCol, textCol)
      .select(col("__id__"),
        graft.functions.simhashExprs.simhash_sig(
          TextOps.tokens(TextOps.normalized(col("__t__"))), bits).as("__sig__"))

  /** Near-dup pairs by SimHash: band-exact blocking then Hamming
    * distance <= maxHamming on candidates. */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, bands: Int = 8, maxHamming: Int = 3,
      maxBucket: Int = 200): DataFrame = {
    require(bits % bands == 0)
    simhashPairsFromSigs(simhashSignatures(df, idCol, textCol, bits),
      bands, bits / bands, maxHamming, maxBucket)
  }

  /** Banded blocking + Hamming screen over a prebuilt (__id__, __sig__
    * bit-array) frame — the back half of [[simhashNearDups]], exposed
    * so alternative signature hash families (e.g.
    * [[simhashSignatureMd5]]) run the identical blocking machinery.
    * When `bands > maxHamming`, recall is exact by pigeonhole: a pair
    * within `maxHamming` differing bits can corrupt at most
    * `maxHamming` bands, leaving one identical band to collide on. */
  def simhashPairsFromSigs(
      sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxHamming: Int, maxBucket: Int): DataFrame =
    LshBlocking.candidatePairs(sigs, bands, rowsPerBand, maxBucket,
      screen = _.withColumn("hamming",
          graft.functions.similarityExprs.hamming_dist(col("p1"), col("p2")))
        .filter(col("hamming") <= maxHamming)
        .select(col("id1"), col("id2"), col("hamming")))

  /** IMAGE near-dup pairs: perceptual dHash over a PNG payload column
    * ([[graft.functions.ImageDHash]]) then the EXACT SimHash blocking
    * machinery — banded blocking + Hamming screen
    * ([[simhashPairsFromSigs]]; `bands > maxHamming` ⇒ exact recall by
    * pigeonhole). A re-encoded / noise-perturbed / slightly-rescaled
    * copy moves few dHash bits, so this is [[simhashNearDups]] with
    * images in place of text. Undecodable payloads (hostile crawl
    * bytes, non-PNG, too-small images) drop out silently — they have
    * no signature; screen them upstream via
    * [[graft.ops.Multimodal.mediaDims]] when the drop rate matters.
    * Output: (id1, id2, hamming). */
  def imageNearDups(
      df: DataFrame, idCol: String, pngCol: String,
      hashW: Int = 8, hashH: Int = 8, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame = {
    val bits = hashW * hashH
    require(bits % bands == 0, s"hashW*hashH=$bits must be divisible by bands=$bands")
    val sigs = df.select(col(idCol).as("__id__"),
      graft.functions.imageExprs.png_dhash(col(pngCol), hashW, hashH).as("__sig__"))
      .filter(col("__sig__").isNotNull)
    simhashPairsFromSigs(sigs, bands, bits / bands, maxHamming, maxBucket)
  }

  /** AUDIO near-dup pairs: gain-invariant energy-envelope hash over a
    * WAV payload column ([[graft.functions.AudioEnergyHash]]) through
    * the same banded Hamming blocking as [[imageNearDups]] /
    * [[simhashNearDups]]. A volume-adjusted copy moves ZERO bits; a
    * re-encoded or lightly-noised copy moves few. Undecodable
    * payloads drop out silently. Output: (id1, id2, hamming). */
  def audioNearDups(
      df: DataFrame, idCol: String, wavCol: String,
      nBits: Int = 64, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame = {
    require(nBits % bands == 0, s"nBits=$nBits must be divisible by bands=$bands")
    val sigs = df.select(col(idCol).as("__id__"),
      graft.functions.imageExprs.wav_energy_hash(col(wavCol), nBits).as("__sig__"))
      .filter(col("__sig__").isNotNull)
    simhashPairsFromSigs(sigs, bands, nBits / bands, maxHamming, maxBucket)
  }

  /** VIDEO near-dup pairs: structural fingerprint over an MP4 payload
    * column ([[graft.functions.VideoStructureHash]] — the per-sample
    * coded-size envelope from the real sample-table walk; a re-MUXED
    * copy sits at Hamming 0, a lightly-trimmed one moves few bits;
    * re-ENCODES need the embedding path) through the same banded
    * Hamming blocking as the text/image/audio family. Undecodable
    * payloads drop out silently. Output: (id1, id2, hamming). */
  def videoNearDups(
      df: DataFrame, idCol: String, mp4Col: String,
      nBits: Int = 64, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame = {
    require(nBits % bands == 0, s"nBits=$nBits must be divisible by bands=$bands")
    val sigs = df.select(col(idCol).as("__id__"),
      graft.functions.imageExprs.mp4_structure_hash(col(mp4Col), nBits).as("__sig__"))
      .filter(col("__sig__").isNotNull)
    simhashPairsFromSigs(sigs, bands, nBits / bands, maxHamming, maxBucket)
  }

  // ---------------------------------------- cross-corpus media dedup

  /** Cross-frame Hamming pairs between two bit-signature frames
    * (`__id__`/`__sig__`) — [[simhashPairsFromSigs]]' cross-corpus
    * sibling: candidates come from CROSS-side band collisions only
    * ([[LshBlocking.crossCandidatePairs]] — the corpus is never
    * self-joined, the bucket cap bounds every bucket join, and the
    * all-capped guard fails loudly instead of reporting zero overlap),
    * then the exact Hamming screen. `bands > maxHamming` ⇒ exact
    * recall by pigeonhole, as in the self-join form. Output:
    * (id1 = corpus side, id2 = catalog side, hamming). */
  def crossPairsFromSigs(
      corpusSigs: DataFrame, catalogSigs: DataFrame,
      bands: Int, rowsPerBand: Int,
      maxHamming: Int, maxBucket: Int): DataFrame =
    LshBlocking.crossCandidatePairs(corpusSigs, catalogSigs,
      bands, rowsPerBand, maxBucket,
      screen = _.withColumn("hamming",
          graft.functions.similarityExprs.hamming_dist(col("p1"), col("p2")))
        .filter(col("hamming") <= maxHamming)
        .select(col("id1"), col("id2"), col("hamming")))

  /** (id, sig) catalog of IMAGE dHash signatures — the persisted
    * artifact a frozen training corpus ships so the next crawl dedups
    * against it without re-reading the image bytes (the media sibling
    * of [[signatureCatalog]]). Undecodable payloads contribute no
    * entry, like null text there. */
  def imageSignatureCatalog(
      df: DataFrame, idCol: String, pngCol: String,
      hashW: Int = 8, hashH: Int = 8): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.imageExprs.png_dhash(col(pngCol), hashW, hashH).as("sig"))
      .filter(col("sig").isNotNull)

  /** (id, sig) catalog of AUDIO energy-envelope signatures. */
  def audioSignatureCatalog(
      df: DataFrame, idCol: String, wavCol: String, nBits: Int = 64): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.imageExprs.wav_energy_hash(col(wavCol), nBits).as("sig"))
      .filter(col("sig").isNotNull)

  /** (id, sig) catalog of VIDEO structure signatures. */
  def videoSignatureCatalog(
      df: DataFrame, idCol: String, mp4Col: String, nBits: Int = 64): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.imageExprs.mp4_structure_hash(col(mp4Col), nBits).as("sig"))
      .filter(col("sig").isNotNull)

  /** Shared cross-corpus media core: probe the catalog's signature
    * width (the [[crossCorpusDedupBySignatures]] discipline — a
    * mismatched catalog would silently stop colliding), then band
    * corpus signatures against it. */
  private def crossMediaPairs(
      corpusSigs: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogSigCol: String,
      nBits: Int, bands: Int, maxHamming: Int, maxBucket: Int,
      what: String): DataFrame = {
    require(nBits % bands == 0, s"$what: nBits=$nBits must be divisible by bands=$bands")
    catalog.select(size(col(catalogSigCol))).limit(1).collect()
      .foreach { r0 =>
        require(r0.getInt(0) == nBits,
          s"$what: catalog signatures have ${r0.getInt(0)} bits but the " +
            s"query side hashes to $nBits — the catalog must be built " +
            "and queried with the same signature parameters")
      }
    crossPairsFromSigs(corpusSigs,
      catalog.select(col(catalogIdCol).as("__id__"), col(catalogSigCol).as("__sig__")),
      bands, nBits / bands, maxHamming, maxBucket)
  }

  /** Merge newly-shipped media signatures into a catalog — the
    * incremental-crawl loop closer ([[updateFingerprintCatalog]]'s
    * media sibling): ship a batch, dedup the next crawl against the
    * catalog, merge only the SURVIVORS' signatures back in. Distinct
    * on the SIGNATURE — the catalog is a screen, and two payloads
    * sharing a signature screen identically (the retained id is
    * arbitrary provenance; consumers must key on `sigCol`). Both
    * frames need (id, sig) shape, e.g. [[imageSignatureCatalog]]
    * outputs. */
  def updateSignatureCatalog(
      catalog: DataFrame, additions: DataFrame,
      sigCol: String = "sig"): DataFrame =
    catalog.unionByName(additions).dropDuplicates(sigCol)

  /** Cross-corpus IMAGE near-dup pairs: the new crawl's dHash
    * signatures banded against a persisted [[imageSignatureCatalog]]
    * — "does this image already sit in the shipped training set",
    * without the catalog carrying image bytes. Output:
    * (id1 = corpus, id2 = catalog, hamming <= maxHamming). */
  def crossCorpusImageNearDups(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogSigCol: String,
      idCol: String, pngCol: String,
      hashW: Int = 8, hashH: Int = 8, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame =
    crossMediaPairs(
      imageSignatureCatalog(corpus, idCol, pngCol, hashW, hashH)
        .select(col("id").as("__id__"), col("sig").as("__sig__")),
      catalog, catalogIdCol, catalogSigCol,
      hashW * hashH, bands, maxHamming, maxBucket, "crossCorpusImageNearDups")

  /** Drop every corpus image near-duplicating ANY catalog entry —
    * one anti-join on the distinct hit ids, rows with undecodable
    * payloads pass through (no signature, no verdict — screen
    * upstream when the drop rate matters). */
  def crossCorpusImageDedup(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogSigCol: String,
      idCol: String, pngCol: String,
      hashW: Int = 8, hashH: Int = 8, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame = {
    val hits = crossCorpusImageNearDups(corpus, catalog, catalogIdCol,
      catalogSigCol, idCol, pngCol, hashW, hashH, bands, maxHamming, maxBucket)
      .select(col("id1").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Cross-corpus AUDIO near-dup pairs against a persisted
    * [[audioSignatureCatalog]] (gain-invariant — a volume-adjusted
    * re-ship of a catalog clip still collides at Hamming 0). */
  def crossCorpusAudioNearDups(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogSigCol: String,
      idCol: String, wavCol: String,
      nBits: Int = 64, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame =
    crossMediaPairs(
      audioSignatureCatalog(corpus, idCol, wavCol, nBits)
        .select(col("id").as("__id__"), col("sig").as("__sig__")),
      catalog, catalogIdCol, catalogSigCol,
      nBits, bands, maxHamming, maxBucket, "crossCorpusAudioNearDups")

  /** [[crossCorpusImageDedup]]'s audio sibling. */
  def crossCorpusAudioDedup(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogSigCol: String,
      idCol: String, wavCol: String,
      nBits: Int = 64, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame = {
    val hits = crossCorpusAudioNearDups(corpus, catalog, catalogIdCol,
      catalogSigCol, idCol, wavCol, nBits, bands, maxHamming, maxBucket)
      .select(col("id1").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Cross-corpus VIDEO near-dup pairs against a persisted
    * [[videoSignatureCatalog]] (a re-MUXED copy of a catalog video
    * still collides at Hamming 0; re-ENCODES are the embedding
    * path's job, as in [[videoNearDups]]). */
  def crossCorpusVideoNearDups(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogSigCol: String,
      idCol: String, mp4Col: String,
      nBits: Int = 64, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame =
    crossMediaPairs(
      videoSignatureCatalog(corpus, idCol, mp4Col, nBits)
        .select(col("id").as("__id__"), col("sig").as("__sig__")),
      catalog, catalogIdCol, catalogSigCol,
      nBits, bands, maxHamming, maxBucket, "crossCorpusVideoNearDups")

  /** [[crossCorpusImageDedup]]'s video sibling. */
  def crossCorpusVideoDedup(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogSigCol: String,
      idCol: String, mp4Col: String,
      nBits: Int = 64, bands: Int = 8,
      maxHamming: Int = 5, maxBucket: Int = 200): DataFrame = {
    val hits = crossCorpusVideoNearDups(corpus, catalog, catalogIdCol,
      catalogSigCol, idCol, mp4Col, nBits, bands, maxHamming, maxBucket)
      .select(col("id1").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Embedding catalog for a shipped training set — the EMBEDDING
    * modality's [[imageSignatureCatalog]] sibling, closing the
    * five-modality cross-corpus symmetry (text shingles, image dHash,
    * audio energy, video structure, and now semantic embeddings). The
    * embedding IS the signature here (the dense vector carries the
    * comparison itself), so the catalog persists (id, embedding) and
    * the banding side is re-derived at query time from the shared
    * deterministic hyperplane seed — there is no precomputed LSH
    * width to mismatch, only the embedding DIMENSION, which
    * [[crossCorpusEmbeddingNearDups]] probes and enforces. */
  def embeddingCatalog(
      df: DataFrame, idCol: String, vecCol: String): DataFrame =
    // NATIVE element type (r22 float-carry): a float32 corpus keeps
    // float32 catalog entries — half the persisted/broadcast bytes —
    // and every consumer (the exact arm's mixed-kernel cosine, the
    // banded arm's signatures, updateEmbeddingCatalog's group-by)
    // widens exactly or groups identically (exact widening is
    // injective), so all catalog verdicts and ids are unchanged
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), VectorOps.carryVec(df, vecCol).as("embedding"))

  /** Merge newly-shipped embeddings into a catalog — distinct on the
    * EMBEDDING (two payloads sharing a vector screen identically).
    * Unlike [[updateSignatureCatalog]]'s arbitrary-provenance
    * dropDuplicates, the retained row per embedding is DETERMINISTIC:
    * the struct-minimum of the non-vector columns (for the canonical
    * (id, embedding) shape, the smallest id). Determinism costs
    * nothing — it is the same single hash aggregation on the vector
    * that dropDuplicates would shuffle — and it makes repeated merges
    * of the same batches byte-identical, which catalogs persisted
    * across crawls need (and the q_dedup_catalog_embedding oracle
    * replays). */
  def updateEmbeddingCatalog(
      catalog: DataFrame, additions: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val u = catalog.unionByName(additions)
    val others = u.columns.filterNot(_ == vecCol)
    u.groupBy(col(vecCol))
      .agg(min(struct(others.map(col): _*)).as("__keep__"))
      .select(u.columns.map(c =>
        if (c == vecCol) col(vecCol) else col(s"__keep__.`$c`").as(c)): _*)
  }

  /** Cross-corpus SEMANTIC near-dup pairs: the new crawl's embeddings
    * sign-LSH-banded against a persisted [[embeddingCatalog]] —
    * "is this document semantically already in the shipped training
    * set" (the SemDeDup question asked across corpora). Candidates
    * come from CROSS-side bucket collisions only
    * ([[LshBlocking.crossCandidatePairs]] — the corpus never
    * self-joins), then exact cosine screens at `threshold`; the band
    * plan is sized from the COMBINED population ([[VectorOps.lshPlan]]
    * — the corpus-sized-quantizer discipline; fixed banding saturates
    * once either side outgrows it) and both sides hash through the
    * SAME seeded hyperplanes, so a pair's collision depends only on
    * the vectors. Embedding dimensions are probed on both sides and a
    * mismatch fails loudly — a catalog embedded by a DIFFERENT model
    * would bucket to noise and silently report zero overlap, the worst
    * possible answer for a contamination screen.
    * Output: (id1 = corpus, id2 = catalog, cosine >= threshold);
    * values exact, recall approximate (the LSH trade) —
    * [[crossCorpusEmbeddingNearDupsExact]] is the recall-1.0 arm. */
  def crossCorpusEmbeddingNearDups(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogVecCol: String,
      idCol: String, vecCol: String,
      threshold: Double = 0.95, targetBucket: Int = 64,
      recall: Double = 0.9, maxBands: Int = 50,
      maxBucket: Int = 200, seed: Long = 42L): DataFrame = {
    // id2 comes from the CATALOG id column in both branches: when the
    // corpus and catalog id columns differ in type (long crawl ids vs
    // string catalog ids), an empty frame typed off the corpus would
    // give this function a schema that depends on whether any non-null
    // vector was found, breaking downstream unions only in the empty
    // case. The where(false) cross join is pruned to an empty
    // LocalRelation at plan time — no scan happens.
    val emptyOut = corpus.select(col(idCol).as("id1"))
      .crossJoin(catalog.select(col(catalogIdCol).as("id2")))
      .withColumn("cosine", lit(0.0))
      .where(lit(false))
    // prune to the two read columns and pin across the dim probe, the
    // planning counts, and the signature pass (the lshNeighborsAuto
    // one-upstream-execution discipline, applied to both sides)
    val pa = corpus.select(col(idCol), col(vecCol))
    val pb = catalog.select(col(catalogIdCol), col(catalogVecCol))
    Materialize.scoped(pa, pb) {
      // ONE aggregate over the tagged union replaces four driver
      // actions (two dim probes + two counts, r21): the band-plan
      // count had to scan both sides anyway, so folding the dimension
      // probe into the same pass is strictly fewer scans at any
      // scale. max(size) detects a cross-side model mismatch exactly
      // as well as the first-row probe it replaces (neither detected
      // within-side variation).
      // when-guarded size: __d__ is NULL exactly for NULL vectors on
      // any ANSI/legacy setting (bare size(NULL) is -1 in legacy mode)
      val stats = pa.select(
          when(col(vecCol).isNotNull, size(col(vecCol))).as("__d__"),
          lit(0).as("__side__"))
        .unionByName(pb.select(
          when(col(catalogVecCol).isNotNull, size(col(catalogVecCol))).as("__d__"),
          lit(1).as("__side__")))
        .agg(
          max(when(col("__side__") === 0, col("__d__"))).as("da"),
          max(when(col("__side__") === 1, col("__d__"))).as("db"),
          sum(when(col("__d__").isNotNull, 1L).otherwise(0L)).as("n"))
        .head()
      if (stats.isNullAt(0) || stats.isNullAt(1)) emptyOut
      else {
        val da = stats.getInt(0)
        val db = stats.getInt(1)
        require(da == db,
          s"crossCorpusEmbeddingNearDups: corpus embeddings have dim " +
            s"$da but the catalog has dim $db — the catalog " +
            "must be built with the same embedding model")
        val n = stats.getLong(2)
        val (nPlanes, rowsPerBand) =
          VectorOps.lshPlan(n, threshold, targetBucket, recall, maxBands)
        val planes = VectorOps.hyperplanes(nPlanes, da, seed)
        // payload = (vector, hoisted norm) struct — the lshNeighbors r21
        // discipline: each candidate pair pays one dot product instead of
        // re-walking both arrays for their norms (bit-identical)
        def packed(sigs: DataFrame): DataFrame = sigs.select(col("__id__"),
          struct(col("__v__").as("v"), col("__nrm__").as("n")).as("__pv__"),
          col("__sig__"))
        LshBlocking.crossCandidatePairs(
          packed(VectorOps.lshSignatures(pa, idCol, vecCol, planes)),
          packed(VectorOps.lshSignatures(pb, catalogIdCol, catalogVecCol, planes)),
          nPlanes / rowsPerBand, rowsPerBand, maxBucket,
          screen = _.withColumn("cosine",
              graft.functions.similarityExprs.cosine_sim_pre(
                col("p1.v"), col("p2.v"), col("p1.n"), col("p2.n")))
            .filter(col("cosine") >= threshold)
            .select(col("id1"), col("id2"), col("cosine")),
          payload = Some("__pv__"))
      }
    }
  }

  /** EXACT cross-corpus semantic near-dup pairs: every
    * (corpus id1, catalog id2) with cosine >= `threshold` — recall 1.0
    * by definition, the oracle/verifier arm of
    * [[crossCorpusEmbeddingNearDups]]. All-pairs across the two sides,
    * so the CATALOG side must be bounded (it is broadcast); the corpus
    * side streams, spread by key so a single-file input never runs the
    * cosine loop in one task. Fails loudly past `maxEntries` catalog
    * rows (the [[broadcastEmbeddingScreen]] guard): an oversized
    * catalog here would otherwise surface as a driver/executor OOM
    * instead of a routing error — use the banded join path
    * ([[crossCorpusEmbeddingNearDups]]) for catalogs that size. The
    * guard is one bounded count (limit maxEntries+1), not a collect. */
  def crossCorpusEmbeddingNearDupsExact(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogVecCol: String,
      idCol: String, vecCol: String,
      threshold: Double, maxEntries: Int = 1000000): DataFrame = {
    // norms hoisted to one VecNorm per row (r21) — the
    // embeddingNearDupsExact discipline: the corpus×catalog kernel
    // pays the dot product alone per pair (bit-identical)
    // native element types on both sides (r22 float-carry — the
    // embeddingNearDupsExact discipline): a float corpus against a
    // double catalog takes the mixed kernel (cosinePreFD), exact
    val stream = spreadByKey(
      corpus.select(col(idCol), VectorOps.carryVec(corpus, vecCol).as("__v__")),
      idCol, "__v__")
      .select(col("__id__").as("id1"), col("__t__").as("__v1__"),
        graft.functions.similarityExprs.vec_norm(col("__t__")).as("__n1__"))
    val catSide = catalog.select(col(catalogIdCol).as("id2"),
      VectorOps.carryVec(catalog, catalogVecCol).as("__v2__"))
      .withColumn("__n2__", graft.functions.similarityExprs.vec_norm(col("__v2__")))
    require(catSide.limit(maxEntries + 1).count() <= maxEntries,
      s"crossCorpusEmbeddingNearDupsExact: catalog exceeds $maxEntries " +
        "entries — not a broadcastable catalog; use the banded join " +
        "path (crossCorpusEmbeddingNearDups) instead")
    val build = broadcast(catSide)
    stream.crossJoin(build)
      .withColumn("cosine", graft.functions.similarityExprs.cosine_sim_pre(
        col("__v1__"), col("__v2__"), col("__n1__"), col("__n2__")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Drop every corpus row whose embedding near-duplicates ANY catalog
    * entry — [[crossCorpusImageDedup]]'s semantic sibling: one
    * anti-join on the distinct hit ids; rows with NULL embeddings pass
    * through (no vector, no verdict). `exact = true` uses the
    * recall-1.0 all-pairs arm (bounded catalogs / verification);
    * the default is the banded scale path. */
  def crossCorpusEmbeddingDedup(
      corpus: DataFrame, catalog: DataFrame,
      catalogIdCol: String, catalogVecCol: String,
      idCol: String, vecCol: String,
      threshold: Double = 0.95, exact: Boolean = false,
      maxBucket: Int = 200): DataFrame = {
    val hits =
      (if (exact)
        crossCorpusEmbeddingNearDupsExact(corpus, catalog, catalogIdCol,
          catalogVecCol, idCol, vecCol, threshold)
      else
        crossCorpusEmbeddingNearDups(corpus, catalog, catalogIdCol,
          catalogVecCol, idCol, vecCol, threshold, maxBucket = maxBucket))
        .select(col("id1").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Collect a bounded embedding catalog into a broadcast
    * [[graft.functions.ScreenCatalog]] — the STATELESS form of
    * cross-corpus embedding dedup (the [[graft.ops.LmScore]]
    * discipline: the catalog is the model-sized side by design, the
    * 100 TB side is the SCREENED corpus). With the catalog on every
    * executor the screen is a per-row codegen'd expression — no join,
    * no shuffle, no state — so the SAME filter runs on a batch corpus
    * and on a structured stream unchanged
    * ([[graft.streaming.Streams.dedupEmbeddingsAgainst]]).
    *
    * `banded = true` (default) pre-buckets members by sign-LSH band
    * keys sized from the catalog ([[VectorOps.lshPlan]] at
    * `threshold`): a probe cosines only colliding buckets' members —
    * approximate recall (the LSH trade), exact verdict values.
    * `banded = false` cosines every member per probe: recall 1.0, the
    * oracle/verifier arm — per-probe cost nMembers·dim, so keep it
    * for bounded catalogs or gate queries. Fails loudly past
    * `maxEntries` — that is not a broadcastable catalog; use the
    * join-based [[crossCorpusEmbeddingNearDups]] instead.
    *
    * REUSE IDIOM: the returned broadcast IS the reusable handle.
    * THIS call collects + packs + broadcasts the catalog (driver
    * work proportional to the catalog); every [[screenEmbeddings]] /
    * [[graft.streaming.Streams.dedupEmbeddingsAgainst]] call against
    * the handle is then a pure executor-side filter with ZERO further
    * catalog jobs. A pipeline screening several crawls, columns, or
    * streams against one catalog should call this ONCE and pass the
    * handle around — calling it per screen redoes the collect+pack
    * for nothing (spec-pinned: EmbeddingScreenSpec's handle-reuse
    * test counts the jobs).
    *
    * Band-plan sizing note: `banded = true` plans bands from the
    * CATALOG population only — the probe corpus's size/density never
    * enters, unlike the join path ([[crossCorpusEmbeddingNearDups]])
    * which plans from the COMBINED population. That is deliberate
    * (a screen's recall target is vs the catalog, and the handle must
    * be probe-agnostic to be reusable), but it means the two shapes
    * can pick different band plans for the same data — a plan-width
    * difference, not a bug. */
  def broadcastEmbeddingScreen(
      catalog: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, banded: Boolean = true,
      targetBucket: Int = 64, recall: Double = 0.9, maxBands: Int = 50,
      maxEntries: Int = 1000000, seed: Long = 42L)
      : org.apache.spark.broadcast.Broadcast[graft.functions.ScreenCatalog] = {
    val spark = catalog.sparkSession
    val pruned = catalog.select(VectorOps.asDouble(col(vecCol)).as("__v__"))
      .filter(col("__v__").isNotNull)
    val dimRow = pruned.select(size(col("__v__")).as("__d__")).head(1)
    val dim = dimRow.headOption.map(_.getInt(0)).getOrElse(1)

    def bounded(rows: Array[org.apache.spark.sql.Row], what: String): Unit =
      require(rows.length <= maxEntries,
        s"broadcastEmbeddingScreen: $what exceeds $maxEntries entries — " +
          "not a broadcastable catalog; screen with " +
          "crossCorpusEmbeddingNearDups (the join path) instead")

    val cat =
      if (!banded) {
        val rows = pruned.limit(maxEntries + 1).collect()
        bounded(rows, "catalog")
        val vecs = new Array[Double](rows.length * dim)
        rows.zipWithIndex.foreach { case (r, m) =>
          val v = r.getSeq[Double](0)
          require(v.length == dim,
            s"broadcastEmbeddingScreen: member $m has ${v.length} dims, expected $dim")
          var j = 0
          while (j < dim) { vecs(m * dim + j) = v(j); j += 1 }
        }
        new graft.functions.ScreenCatalog(dim, rows.length, vecs,
          0, 0, Array.empty, Array.empty, Array.empty, Array.empty)
      } else {
        // signatures computed DISTRIBUTED (the driver only packs keys)
        val n = pruned.count()
        val (nPlanes, rowsPerBand) =
          VectorOps.lshPlan(n, threshold, targetBucket, recall, maxBands)
        val planes = VectorOps.hyperplanes(nPlanes, dim, seed)
        val rows = VectorOps.lshSignatures(
          pruned.withColumn("__sid__", monotonically_increasing_id()),
          "__sid__", "__v__", planes)
          .select(col("__v__"), col("__sig__"))
          .limit(maxEntries + 1).collect()
        bounded(rows, "catalog")
        val nMembers = rows.length
        val vecs = new Array[Double](nMembers * dim)
        val bits = new Array[Array[Int]](nMembers)
        rows.zipWithIndex.foreach { case (r, m) =>
          val v = r.getSeq[Double](0)
          require(v.length == dim,
            s"broadcastEmbeddingScreen: member $m has ${v.length} dims, expected $dim")
          var j = 0
          while (j < dim) { vecs(m * dim + j) = v(j); j += 1 }
          bits(m) = r.getSeq[Int](1).toArray
        }
        val bands = nPlanes / rowsPerBand
        val flatPlanes = new Array[Double](nPlanes * dim)
        planes.zipWithIndex.foreach { case (p, i) =>
          var j = 0
          while (j < dim) { flatPlanes(i * dim + j) = p(j); j += 1 }
        }
        val bandKeys = new Array[Array[Long]](bands)
        val bandStarts = new Array[Array[Int]](bands)
        val bandMembers = new Array[Array[Int]](bands)
        var b = 0
        while (b < bands) {
          // the probe's packing: the band's bits MSB-first
          val keyed = (0 until nMembers).map { m =>
            var key = 0L
            var r = 0
            while (r < rowsPerBand) {
              key = (key << 1) | bits(m)(b * rowsPerBand + r).toLong
              r += 1
            }
            (key, m)
          }.sortBy(_._1)
          val keys = scala.collection.mutable.ArrayBuffer.empty[Long]
          val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
          keyed.zipWithIndex.foreach { case ((k, _), i) =>
            if (keys.isEmpty || keys.last != k) { keys += k; starts += i }
          }
          starts += nMembers
          bandKeys(b) = keys.toArray
          bandStarts(b) = starts.toArray
          bandMembers(b) = keyed.map(_._2).toArray
          b += 1
        }
        new graft.functions.ScreenCatalog(dim, nMembers, vecs,
          bands, rowsPerBand, flatPlanes, bandKeys, bandStarts, bandMembers)
      }
    spark.sparkContext.broadcast(cat)
  }

  /** Drop every row whose embedding near-duplicates ANY member of a
    * broadcast [[graft.functions.ScreenCatalog]] — one stateless
    * codegen'd filter (NULL-embedding rows pass through: no vector,
    * no verdict). Batch form; the streaming form is the same call
    * ([[graft.streaming.Streams.dedupEmbeddingsAgainst]]). */
  def screenEmbeddings(
      df: DataFrame, vecCol: String,
      catalogBc: org.apache.spark.broadcast.Broadcast[graft.functions.ScreenCatalog],
      threshold: Double): DataFrame = {
    require(threshold > -1.0,
      s"screenEmbeddings: threshold must be > -1, got $threshold")
    // single expression reference; NULL (no candidate / NULL vector)
    // coalesces BELOW any real threshold so those rows survive
    df.filter(coalesce(
      graft.functions.screenExprs.max_catalog_cosine(
        VectorOps.asDouble(col(vecCol)), catalogBc),
      lit(-2.0)) < threshold)
  }

  /** Collect a bounded BIT-signature catalog (dHash / energy /
    * structure / simhash — any [[imageSignatureCatalog]]-shaped
    * (id, sig) frame) into a broadcast
    * [[graft.functions.SigScreenCatalog]] — the media sibling of
    * [[broadcastEmbeddingScreen]]. The banded form buckets members on
    * packed `bands`-way band keys; by pigeonhole the screen's recall
    * is EXACTLY 1.0 whenever the caller's maxHamming < bands (≤5 vs 8
    * at the media defaults), so banding is pure speedup here, not
    * approximation. Fails loudly past `maxEntries`. Same reuse idiom
    * as [[broadcastEmbeddingScreen]]: collect once, pass the returned
    * handle to every [[screenSignatures]] /
    * [[graft.streaming.Streams.dedupSignaturesAgainst]] call. */
  def broadcastSignatureScreen(
      catalog: DataFrame, sigCol: String = "sig",
      bands: Int = 8, maxEntries: Int = 4000000)
      : org.apache.spark.broadcast.Broadcast[graft.functions.SigScreenCatalog] = {
    require(bands >= 0, s"bands must be >= 0 (0 = exact), got $bands")
    val spark = catalog.sparkSession
    val rows = catalog.select(col(sigCol).cast("array<int>").as("__sig__"))
      .filter(col("__sig__").isNotNull)
      .limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"broadcastSignatureScreen: catalog exceeds $maxEntries entries — " +
        "not a broadcastable catalog; use the banded join path " +
        "(crossCorpusImageNearDups and siblings) instead")
    val nMembers = rows.length
    val nBits = if (nMembers == 0) 64 else rows(0).getSeq[Int](0).length
    require(bands == 0 || nBits % bands == 0,
      s"nBits=$nBits must be divisible by bands=$bands")
    val words = (nBits + 63) / 64
    val packed = new Array[Long](nMembers * words)
    rows.zipWithIndex.foreach { case (r, m) =>
      val s = r.getSeq[Int](0)
      require(s.length == nBits,
        s"broadcastSignatureScreen: member $m has ${s.length} bits, expected $nBits")
      var i = 0
      while (i < nBits) {
        if (s(i) != 0) packed(m * words + i / 64) |= 1L << (63 - (i % 64))
        i += 1
      }
    }
    val cat =
      if (bands == 0 || nMembers == 0)
        new graft.functions.SigScreenCatalog(nBits, nMembers, packed,
          0, 0, Array.empty, Array.empty, Array.empty)
      else {
        val rpb = nBits / bands
        val bandKeys = new Array[Array[Long]](bands)
        val bandStarts = new Array[Array[Int]](bands)
        val bandMembers = new Array[Array[Int]](bands)
        var b = 0
        while (b < bands) {
          val keyed = (0 until nMembers).map { m =>
            var key = 0L
            var r = 0
            while (r < rpb) {
              val i = b * rpb + r
              key = (key << 1) |
                ((packed(m * words + i / 64) >>> (63 - (i % 64))) & 1L)
              r += 1
            }
            (key, m)
          }.sortBy(_._1)
          val ks = scala.collection.mutable.ArrayBuffer.empty[Long]
          val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
          keyed.zipWithIndex.foreach { case ((k, _), i) =>
            if (ks.isEmpty || ks.last != k) { ks += k; starts += i }
          }
          starts += nMembers
          bandKeys(b) = ks.toArray
          bandStarts(b) = starts.toArray
          bandMembers(b) = keyed.map(_._2).toArray
          b += 1
        }
        new graft.functions.SigScreenCatalog(nBits, nMembers, packed,
          bands, rpb, bandKeys, bandStarts, bandMembers)
      }
    spark.sparkContext.broadcast(cat)
  }

  /** Drop every row whose bit signature sits within `maxHamming` of
    * ANY broadcast-catalog member — one stateless codegen'd filter,
    * identical on batch and streaming corpora
    * ([[graft.streaming.Streams.dedupSignaturesAgainst]]). Rows whose
    * signature column is NULL (undecodable payload) pass through. The
    * screen is EXACT (pigeonhole) when the catalog's bands exceed
    * `maxHamming`. */
  def screenSignatures(
      df: DataFrame, sigCol: String,
      catalogBc: org.apache.spark.broadcast.Broadcast[graft.functions.SigScreenCatalog],
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    df.filter(coalesce(
      graft.functions.screenExprs.min_catalog_hamming(
        col(sigCol).cast("array<int>"), catalogBc),
      lit(Int.MaxValue)) > maxHamming)
  }

  /** SimHash signature under an md5-parity per-(token, bit) hash — the
    * CROSS-ENGINE-REPLICABLE hash family: any engine with md5 (DuckDB,
    * Trino, Postgres) recomputes the identical signature from text, so
    * banded simhash output can be verified end-to-end by an external
    * SQL oracle (gate query q_dedup_simhash_exact). Same ±1 majority
    * math as [[simhashSignature]]; only the per-token bit source
    * differs (parity of md5(token ':' bitIndex)'s last hex digit vs
    * xxhash64(token, bitIndex) mod 2). Tokenization is the plain
    * whitespace split of lower(trim(text)) — deliberately expressed
    * with stock SQL functions, not [[TextOps]] internals, so the
    * oracle-side mirror is regexp_split_to_array + md5 verbatim.
    * ~bits md5 calls per token: a verification-corpus tool, not the
    * 100 TB path (that is [[simhashSignatures]]' one-hash-per-token
    * native expression). */
  def simhashSignatureMd5(textCol: Column, bits: Int): Column = {
    val toks = split(lower(trim(textCol)), "[ \t\n\u000b\f\r]+")
    TextOps.once(toks) { tk =>
      transform(sequence(lit(0), lit(bits - 1)), i =>
        when(aggregate(tk, lit(0L),
          (acc, t) => acc + when(
            substring(md5(concat(t, lit(":"), i.cast("string"))), 32, 1)
              .isin("1", "3", "5", "7", "9", "b", "d", "f"), lit(1L))
            .otherwise(lit(-1L))) >= 0,
          lit(1)).otherwise(lit(0)))
    }
  }

  /** n-gram Jaccard similarity of two text columns (character n-grams).
    * For all-pairs use, route through [[minhashNearDups]] with char
    * shingles — this is the exact verifier. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(TextOps.charShingles(a, n))
    val sb = array_distinct(TextOps.charShingles(b, n))
    size(array_intersect(sa, sb)) / size(array_union(sa, sb))
  }

  /** EXACT all-pairs n-gram Jaccard >= `threshold` (recall 1.0), with a
    * LOSSLESS size-ratio prune: jaccard(A,B) >= t implies
    * min(|A|,|B|) >= t * max(|A|,|B|), so pairs outside that band are
    * skipped before any set intersection — an integer comparison per
    * pair instead of a set operation, no recall loss.
    *
    * Still quadratic in pair enumeration (cheap int filter per pair);
    * this is the bounded-corpus / verifier path — at corpus scale use
    * [[minhashNearDups]] (LSH candidates, one shuffle). Shingle sets
    * are built once per doc above a by-key spread; one side broadcasts.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val sets = spreadByKey(df, idCol, textCol)
      .select(col("__id__"),
        array_distinct(TextOps.charShingles(col("__t__"), shingleN)).as("__sh__"))
      .withColumn("__n__", size(col("__sh__")))
    val a = sets.select(col("__id__").as("id1"), col("__sh__").as("sh1"), col("__n__").as("n1"))
    val b = broadcast(
      sets.select(col("__id__").as("id2"), col("__sh__").as("sh2"), col("__n__").as("n2")))
    // epsilon slack keeps boundary pairs (min == t*max exactly, where
    // jaccard can be exactly t) admitted despite double rounding of
    // t*max; slack only ADMITS candidates — the exact jaccard decides.
    // The jaccard predicate lives INSIDE the join condition, AFTER the
    // cheap conjuncts: a separate .filter would be pushed into the
    // condition PREPENDED (evaluated first, for every enumerated pair),
    // while an explicit condition keeps its order and short-circuits —
    // only size-band survivors pay the set intersection.
    val jac = graft.functions.similarityExprs.jaccard_sim(col("sh1"), col("sh2"))
    a.join(b, col("id1") < col("id2") &&
        least(col("n1"), col("n2")) >=
          lit(threshold) * greatest(col("n1"), col("n2")) - lit(1e-9) &&
        jac >= threshold)
      .select(col("id1"), col("id2"), jac.as("jaccard"))
  }

  /** Corpus-scale sibling of [[ngramJaccardPairs]]: LSH-screen (MinHash
    * banding over the SAME char-shingle identity — [[TextOps.charShingles]]
    * normalization and short-string fallback included) then exact-Jaccard
    * verify over surviving candidates only. Every emitted pair genuinely
    * has jaccard >= threshold (precision 1.0; the exact set similarity
    * decides, the signatures only screen); recall per true pair is
    * 1 - (1 - t^r)^bands — at the defaults (r = numHashes/bands = 2,
    * bands = 64) a threshold-0.8 pair is missed with probability
    * ~1e-29, i.e. the pair set equals the all-pairs answer in practice
    * (gated: q_dedup_ngram_blocked shares q_dedup_ngram's oracle).
    * Cost is one signature pass + banded equi-joins instead of the
    * all-pairs enumeration — the 100 TB path. */
  def ngramJaccardPairsBlocked(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double,
      numHashes: Int = 128, bands: Int = 64,
      maxBucket: Int = 1000): DataFrame =
    minhashNearDups(df, idCol, textCol, shingleN, numHashes, bands,
      threshold, maxBucket, exactVerify = true, charShingles = true)

  /** Duplicate-graph edges: one (id1, id2) row per document pair that
    * shares at least one word `shingleN`-gram — the cheap equi-join
    * relation used to build duplicate CLUSTERS (feed the result to
    * [[nearDupClusters]] / [[clusterDedup]]).
    *
    * Scale shape: explode to distinct 64-bit gram hashes, drop grams
    * appearing in more than `maxDocsPerGram` documents (a gram that
    * common is boilerplate and would contribute O(k²) pairs with no
    * signal — same cap rationale as [[LshBlocking]]'s bucket cap),
    * then self-join the survivors on the hash. One aggregate + one
    * equi-join shuffle, both on (gram hash); never all-pairs. */
  def sharedShingleEdges(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 8, maxDocsPerGram: Int = 1000,
      materialize: Boolean = true,
      saturationMassFraction: Double = 0.5): DataFrame = {
    require(saturationMassFraction >= 0.0 && saturationMassFraction <= 1.0,
      s"saturationMassFraction must be in [0, 1], got $saturationMassFraction")
    // same cap machinery as LshBlocking.candidatePairs: the gram
    // frequency is a sort-free COUNT aggregate (never a collected id
    // list — a boilerplate gram must not materialize its doc set
    // anywhere), oversized grams are dropped via semi-join, and the
    // self-join runs on the same (hash) partitioning. Gram hashing is
    // one native pass (graft.functions.WordNgramHashes): the
    // composable explode(array_distinct(shingles)) rebuilds the gram
    // array once PER OUTPUT ROW (generator-child re-evaluation) and
    // runs its higher-order transform interpreted — measured ~30x
    // slower on the documents table.
    // materialize=true (default): the (id, hash) frame is persisted
    // across its three uses and the result materialized like
    // LshBlocking's (Materialize.guardedPairs), so downstream iteration
    // (connected components) never re-runs the explode. false returns the LAZY plan — for
    // composition into a larger single-action query or plan audits.
    def pairs(grams: DataFrame,
        gramCounts: Option[DataFrame] = None): DataFrame = {
      val counts = gramCounts.getOrElse(
        grams.groupBy("__h__").agg(count(lit(1)).as("__n__")))
      val goodGrams = counts
        .filter(col("__n__").between(2, maxDocsPerGram))
        .select("__h__")
      // no pinned repartition here (r21, measured): the gram pair
      // emission is id-pairs only — a handful of integer ops per
      // candidate — so this is a LIGHT screen in the
      // LshBlocking.candidatePairs sense; the planner's own exchange
      // shape (SMJ at scale, AQE-sized) wins.
      val keep = grams.join(goodGrams, Seq("__h__"), "left_semi")
      keep.select(col("__h__"), col("__id__").as("id1"))
        .join(keep.select(col("__h__"), col("__id__").as("id2")), Seq("__h__"))
        .filter(col("id1") < col("id2"))
        .select("id1", "id2")
        .distinct()
    }
    val grams = spreadByKey(df, idCol, textCol)
      .select(col("__id__"),
        explode(graft.functions.exprs.word_ngram_hashes(
          col("__t__"), shingleN, shortFallback = true)).as("__h__"))
    if (!materialize) pairs(grams)
    else {
      // one PERSISTED gram-frequency aggregate feeds both the guard
      // and the goodGrams semi-join side (the LshBlocking fusion
      // discipline — never pay the frequency aggregate twice); one
      // row per distinct gram, small next to the gram rows themselves.
      // Its counters are observed as graft.shingle.grams.
      val counters = Occupancy.selfCounters(col("__n__"), maxDocsPerGram)
      val gramCounts = Occupancy.observed(
          grams.groupBy("__h__").agg(count(lit(1)).as("__n__")),
          "graft.shingle.grams", counters)
      // the candidatePairs all-capped guard and mass split, gram form:
      // when every SHARED gram exceeds maxDocsPerGram, the edge set is
      // empty by saturation — N identical documents would cluster as N
      // singletons and a cluster dedup would remove NOTHING, silently.
      // Fail when the over-cap grams carry most of the gram MASS
      // (occurrences); a duplicate-free corpus whose docs share a small
      // header shows the same shape with a TINY capped mass, where empty
      // edges is correct, so it warns (r15 ADVICE). Blind spot: genuine
      // near-dups sharing under half their grams (padded with unique
      // IDs/timestamps) warn too; raise maxDocsPerGram, or set
      // saturationMassFraction = 0 for the strict guard. Only the
      // materialized path checks: a driver action here would defeat
      // materialize=false's lazy plan.
      Materialize.guardedPairs(
          Occupancy.counted(pairs(grams, Some(gramCounts)), "graft.shingle.edges"),
          Seq(grams, gramCounts), gramCounts, counters) { occ =>
        val pairable = occ.getAs[Long]("pairable")
        val capped = occ.getAs[Long]("capped")
        val cappedMass = occ.getAs[Long]("capped_rows")
        val mass = occ.getAs[Long]("rows")
        if (capped > 0 && pairable == 0) {
          if (cappedMass >= saturationMassFraction * mass)
            throw new IllegalStateException(
              s"sharedShingleEdges: all $capped shared grams exceed " +
                s"maxDocsPerGram=$maxDocsPerGram and they carry " +
                s"$cappedMass of $mass gram occurrences — the corpus is " +
                "saturated and ZERO edges would be emitted (a " +
                "wall-to-wall-duplicate corpus would dedup to nothing). " +
                "Raise maxDocsPerGram or use a longer shingleN.")
          else
            log.warn(
              s"sharedShingleEdges: the only shared grams ($capped) all " +
                s"exceed maxDocsPerGram=$maxDocsPerGram, but they carry " +
                s"just $cappedMass of $mass gram occurrences — shared " +
                "boilerplate in an otherwise-unique corpus; emitting the " +
                "empty edge set.")
        }
      }
    }
  }

  /** The cluster APIs carry ids as LONG through connected components —
    * fail loudly at plan-build time on a non-integral id column
    * ([[ColumnChecks.requireIntegral]]) instead of failing late or
    * silently deduping nothing. */
  private def requireIntegralId(
      df: DataFrame, idCol: String, op: String): Unit =
    ColumnChecks.requireIntegral(df, idCol, op,
      "Map string/UUID ids to a surrogate long first (e.g. xxhash64), or use the " +
        "greedy minhashDedup, which works for any ordered id type.")

  /** Cluster assignment from a near-dup pair set: connected components
    * over the pairs (see [[Graph.connectedComponents]] — transitive
    * closure, unlike the greedy keep-smallest rule of [[minhashDedup]],
    * so A~B~C lands in ONE cluster even when A~C was never emitted).
    * Returns every row of `df` with a `cluster_id` column = smallest
    * id in the row's duplicate cluster (singletons map to themselves).
    */
  def nearDupClusters(
      df: DataFrame, idCol: String, pairs: DataFrame,
      id1: String = "id1", id2: String = "id2"): DataFrame = {
    requireIntegralId(df, idCol, "nearDupClusters")
    requireIntegralId(pairs, id1, "nearDupClusters")
    requireIntegralId(pairs, id2, "nearDupClusters")
    // joined under a temp name so re-clustering a frame that already
    // HAS a cluster_id column (a second dedup pass) replaces it
    // instead of failing with an ambiguous reference
    val comp = Graph.connectedComponents(pairs, id1, id2)
      .select(col("node").as(idCol), col("component").as("__cluster__"))
    df.drop("cluster_id")
      .join(comp, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("__cluster__"), col(idCol).cast("long")))
      .drop("__cluster__")
  }

  /** Transitive near-dup removal: keep exactly one document (the
    * smallest id) per connected component of the pair graph. */
  def clusterDedup(
      df: DataFrame, idCol: String, pairs: DataFrame,
      id1: String = "id1", id2: String = "id2"): DataFrame = {
    requireIntegralId(df, idCol, "clusterDedup")
    requireIntegralId(pairs, id1, "clusterDedup")
    requireIntegralId(pairs, id2, "clusterDedup")
    val losers = Graph.connectedComponents(pairs, id1, id2)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs — the production entry
    * point delegates to the CORPUS-SIZED sign-LSH plan
    * ([[VectorOps.lshNeighborsAuto]]): fixed band bits (the old
    * 32-plane/8-bit default) saturate every bucket once the corpus
    * outgrows ~targetBucket·2^bits vectors and now trip the
    * all-capped guard; the planned shape re-sizes bits and band count
    * with the corpus and the (high, near-dup) threshold instead.
    * Explicit banding stays available on [[VectorOps.lshNeighbors]]. */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95): DataFrame =
    VectorOps.lshNeighborsAuto(df, idCol, vecCol, threshold = threshold)

  /** EXACT embedding-cosine near-duplicate pairs: every (id1 < id2)
    * with cosine >= `threshold`. All-pairs by definition (recall 1.0) —
    * quadratic in corpus size, so this is the bounded-corpus / verifier
    * path; at corpus scale use [[embeddingNearDups]] (sign-LSH
    * candidates, one shuffle, approximate recall).
    *
    * Shape: one side broadcast, the stream side spread by key
    * (see [[spreadByKey]] — a single-file input would otherwise run
    * the O(n^2) cosine loop in one task), native codegen'd
    * [[graft.functions.CosineSim]] per surviving pair. */
  def embeddingNearDupsExact(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // norms hoisted to one VecNorm per row (r21): the all-pairs kernel
    // is n²/2 cosines, so the pair side pays the dot product alone
    // (cosine_sim_pre — bit-identical to cosine_sim)
    // native element type (r22 float-carry): a float32 corpus keeps
    // its vectors float through the spread shuffle AND the broadcast
    // (half the bytes on both); the norm and pair kernels widen per
    // element exactly, so every cosine is bit-identical
    val stream = spreadByKey(
      df.select(col(idCol), VectorOps.carryVec(df, vecCol).as("__v__")), idCol, "__v__")
      .select(col("__id__").as("id1"), col("__t__").as("__v1__"),
        graft.functions.similarityExprs.vec_norm(col("__t__")).as("__n1__"))
    val build = broadcast(
      df.select(col(idCol).as("id2"), VectorOps.carryVec(df, vecCol).as("__v2__"))
        .withColumn("__n2__", graft.functions.similarityExprs.vec_norm(col("__v2__"))))
    stream.join(build, col("id1") < col("id2"))
      .withColumn("cosine", graft.functions.similarityExprs.cosine_sim_pre(
        col("__v1__"), col("__v2__"), col("__n1__"), col("__n2__")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means cells bound the pairwise cosine work to
    * within-cell pairs — corpus²/nCells instead of corpus² — and
    * `replication` multi-assigns each vector to its `replication`
    * nearest cells so boundary-straddling near-dups still co-locate in
    * at least one shared cell. Returns (id1 < id2, cosine >= threshold).
    *
    * Reuses the IVF coarse quantizer: [[Ivf.trainCentroids]] (bounded
    * seeded driver sample — classic quantizer practice, never a corpus
    * collect) and [[Ivf.index]] (codegen'd argmax cell assignment over
    * broadcast centroid literals, no shuffle). The only shuffles are
    * the per-cell equi-join and the cross-cell pair dedup — never
    * all-pairs. `replication = nCells` assigns every vector to every
    * cell and therefore equals the exact all-pairs answer (spec-pinned
    * equivalence, same trick as IVF's nProbe=all).
    *
    * Cells larger than `maxCell` are dropped before pairing — the same
    * cap discipline as [[LshBlocking]]: a cell that big means the
    * quantizer is under-sized for the corpus (raise nCells) and it
    * would contribute O(maxCell²) pairs of near-zero discrimination.
    *
    * EXPERT / DIAGNOSTIC FORM: a fixed cell count is the
    * measured-quadratic regime (within-cell pair work Σ n_c² grows as
    * n²/nCells — BENCH_SCALE_r11 attribution: 0.999M → 100M candidate
    * pairs per 10× corpus at nCells=8). Unless you are pinning the
    * quantizer deliberately (scale diagnostics, the replication=nCells
    * exact-equivalence trick), call [[semanticNearDups]], which sizes
    * the quantizer to the corpus and stays linear. */
  def semanticNearDupsFixedCells(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCells: Int = 16, replication: Int = 2,
      maxCell: Int = 10000, seed: Long = 42L): DataFrame = {
    // empty corpus (no non-null vectors) → no near-dups, not a
    // quantizer-training failure: the first fully-filtering upstream
    // step must not kill the dedup pass.
    // sample grows with the cell count (≥ ~5 points per cell, else
    // k-means seeds cells from nothing); at the small nCells of the
    // fixed-parameter calls the max() leaves the classic 2000 intact
    val centroidsOpt = Ivf.trainCentroidsOpt(df, vecCol, nCells,
      sampleSize = math.max(2000, 5 * nCells), seed = seed)
    if (centroidsOpt.isEmpty)
      return df.select(col(idCol).as("id1"), col(idCol).as("id2"),
        lit(0.0).as("cosine")).where(lit(false))
    val centroids = centroidsOpt.get
    // persisted: referenced by the cell-size aggregate and both pair
    // sides; the pairs are materialized before it is released, so the
    // returned frame never recomputes the assignment.
    // __nrm__ hoists the vector norm to ONE VecNorm per indexed row
    // (r21, guide §1.2 per-task work): the pair screen below evaluates
    // a cosine per CANDIDATE PAIR, and the naive kernel re-walked both
    // arrays for their norms on every pair — cosine_sim_pre reuses the
    // per-row norms, cutting the pair kernel to the dot product alone
    // (bit-identical: dot/(sqrt(na)*sqrt(nb)) with identical loops).
    val indexed = Ivf.index(df, idCol, vecCol, centroids, replication)
      .withColumn("__nrm__",
        graft.functions.similarityExprs.vec_norm(col("__v__")))
    // cell occupancy, observed as graft.semantic.cells
    val counters = Occupancy.selfCounters(col("__n__"), maxCell)
    val cellCounts = Occupancy.observed(
      indexed.groupBy("__cell__").agg(count(lit(1)).as("__n__")),
      "graft.semantic.cells", counters)
    val good = cellCounts
      .filter(col("__n__").between(2, maxCell))
      .select("__cell__")
    val ok = indexed.join(good, Seq("__cell__"), "left_semi")
    // Sub-bucketed pair join (r21, guide §2.5): within-cell pair
    // work is quadratic in cell occupancy, so (a) a SINGLE cell must
    // never be one task's whole workload (a maxCell cell is up to
    // 10k² = 100M pairs — AQE's skew splitter cannot split one key),
    // and (b) at small cell counts (the replication=nCells exact
    // arm) the join would otherwise run on ≤ nCells tasks. Each side
    // gets a deterministic id-hash sub-bucket 0..b-1 and enumerates
    // the other side's buckets, so every pair lands in EXACTLY ONE
    // (cell, ba, bb) key — b² keys per cell, per-key work capped at
    // (|cell|/b)². b is plan-time scale-adaptive: 1 (no replication
    // cost at all) once nCells covers the cluster parallelism,
    // up to 16 for tiny quantizers; the repartition pins the
    // exchange's partition count against byte-based AQE coalescing
    // (Par.pinned — the LshBlocking discipline).
    val pinned = Par.pinned(df)
    val b = math.max(1, math.min(16,
      math.ceil(math.sqrt(2.0 * pinned / math.max(nCells, 1))).toInt))
    val bl = lit(b.toLong)
    val left = ok.select(col("__cell__"), col("__id__").as("id1"),
        col("__v__").as("v1"), col("__nrm__").as("n1"),
        pmod(xxhash64(col("__id__")), bl).as("__ba__"))
      .withColumn("__bb__", explode(sequence(lit(0L), lit((b - 1).toLong))))
      .repartition(pinned, col("__cell__"), col("__ba__"), col("__bb__"))
    val right = ok.select(col("__cell__"), col("__id__").as("id2"),
        col("__v__").as("v2"), col("__nrm__").as("n2"),
        pmod(xxhash64(col("__id__")), bl).as("__bb__"))
      .withColumn("__ba__", explode(sequence(lit(0L), lit((b - 1).toLong))))
      .repartition(pinned, col("__cell__"), col("__ba__"), col("__bb__"))
    val pairs = left
      .join(right, Seq("__cell__", "__ba__", "__bb__"))
      .filter(col("id1") < col("id2"))
      // score and THRESHOLD-FILTER before the cross-cell pair dedup:
      // a pair sharing several cells pays the (cheap, codegen'd)
      // cosine once per shared cell, but only QUALIFYING pairs — a
      // tiny fraction of the candidates — reach the dedup shuffle.
      // Deduping first would shuffle every candidate pair still
      // carrying both dense vectors (~1 KB/row): measured ~4x slower
      // and memory-unstable at 32 threads
      .withColumn("cosine",
        graft.functions.similarityExprs.cosine_sim_pre(
          col("v1"), col("v2"), col("n1"), col("n2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
      .dropDuplicates("id1", "id2")
    // the cap drops non-discriminative cells — a legitimate skew
    // trade for SOME cells, a silent wrong answer when it hits ALL
    // of them (an under-sized quantizer on a grown corpus returns
    // zero pairs while looking healthy — measured at 26x scale:
    // every cell past maxCell, 676M candidate pairs shed, 0 rows).
    // That configuration fails loudly instead.
    Materialize.guardedPairs(pairs, Seq(indexed), cellCounts, counters) { health =>
      val cells = health.getAs[Long]("groups")
      val capped = health.getAs[Long]("capped")
      if (cells > 0 && health.getAs[Long]("pairable") == 0 && capped > 0)
        throw new IllegalStateException(
          s"semanticNearDups: every populated cell exceeds maxCell=$maxCell " +
            s"($capped of $cells cells capped) — the " +
            s"quantizer is under-sized for this corpus at nCells=$nCells; raise " +
            "nCells (or use semanticNearDups, which sizes it to the corpus)")
    }
  }

  /** Cells the driver-sample quantizer can honestly train: the sample
    * holds ≥ ~5 points per cell under the 100k driver-collect bound.
    * Past this, one quantizer is the wrong tool — shard-train (train a
    * quantizer per corpus shard, assign two-level) instead of letting
    * cells fill toward the quadratic regime. */
  private val maxAutoCells = 20000

  /** Tuning knobs of the corpus-sized SemDeDup entry points
    * ([[semanticNearDups]]/[[semDedup]]), as a dedicated options type
    * ON PURPOSE: those entry points' 5th positional slot used to mean
    * `nCells` (the fixed-cell form, now
    * [[semanticNearDupsFixedCells]]), so a same-typed bare Int there
    * would let code written against the old API silently re-interpret
    * a cell count as a target occupancy. With the options type, stale
    * positional calls fail to COMPILE instead. */
  final case class SemDedupParams(
      targetCell: Int = 512, replication: Int = 2,
      maxCell: Int = 10000, seed: Long = 42L)

  /** SemDeDup-style semantic near-duplicate pairs with the quantizer
    * SIZED TO THE CORPUS — the DEFAULT and the 100 TB form (semantics
    * and plan shape in [[semanticNearDupsFixedCells]], which this
    * delegates to). A fixed `nCells` does not scale: within-cell pair
    * work is Σ n_c² ≈ n²·replication²/nCells, so a 10× corpus under
    * unchanged cells pays 100× the cosine evaluations (measured on the
    * sf0.1 → sf1-equivalent corpus: 0.999M → 100.0M candidate pairs at
    * nCells=8 — BENCH_SCALE_r11's attribution section). Sizing
    * `nCells = ⌈n·replication / targetCell⌉` pins expected occupancy
    * at `targetCell`, making pair work ≈ n·replication·targetCell —
    * LINEAR in the corpus — at the price of one null-mask count() and
    * a quantizer train whose sample scales with the cell count
    * (5·nCells, driver-bounded; corpora needing more than
    * [[maxAutoCells]] cells fail loudly toward shard-training rather
    * than silently under-partitioning). Recall trade is the standard
    * IVF one: more, smaller cells split more boundary pairs —
    * `replication` is the countermeasure and is factored into the
    * sizing so raising it does not re-inflate occupancy. */
  def semanticNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95,
      params: SemDedupParams = SemDedupParams()): DataFrame = {
    require(params.targetCell >= 2,
      s"semanticNearDups: targetCell must be >= 2, got ${params.targetCell}")
    val n = df.filter(col(vecCol).isNotNull).count()
    val nCells = math.max(2L,
      (n * math.max(params.replication, 1) + params.targetCell - 1) /
        params.targetCell)
    require(nCells <= maxAutoCells,
      s"semanticNearDups: $n vectors at targetCell=${params.targetCell} need " +
        s"$nCells cells — beyond the $maxAutoCells a driver-sample " +
        "quantizer can train; shard the corpus and train per shard")
    semanticNearDupsFixedCells(df, idCol, vecCol, threshold, nCells.toInt,
      params.replication, params.maxCell, params.seed)
  }

  /** Alias of [[semanticNearDups]] (the corpus-sized quantizer became
    * the default in round 12; this name is kept for callers written
    * against the earlier API — its flat signature has ALWAYS meant
    * `targetCell` in the 5th slot, so positional use is safe here). */
  def semanticNearDupsAuto(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, targetCell: Int = 512, replication: Int = 2,
      maxCell: Int = 10000, seed: Long = 42L): DataFrame =
    semanticNearDups(df, idCol, vecCol, threshold,
      SemDedupParams(targetCell, replication, maxCell, seed))

  /** SemDeDup removal: keep-smallest-id per [[semanticNearDups]] pair
    * (greedy, same loser rule as [[minhashDedup]]); corpus-sized
    * quantizer — the 100 TB removal form and the default. */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95,
      params: SemDedupParams = SemDedupParams()): DataFrame = {
    val losers = semanticNearDups(df, idCol, vecCol, threshold, params)
      .select(col("id2").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[semDedup]] over [[semanticNearDupsFixedCells]] — the expert /
    * diagnostic removal form (fixed cell count; see the scale warning
    * there). */
  def semDedupFixedCells(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCells: Int = 16, replication: Int = 2,
      seed: Long = 42L): DataFrame = {
    val losers = semanticNearDupsFixedCells(df, idCol, vecCol, threshold,
      nCells, replication, seed = seed)
      .select(col("id2").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Alias of [[semDedup]] (the corpus-sized quantizer became the
    * default in round 12; flat signature — see
    * [[semanticNearDupsAuto]] on why positional use is safe here). */
  def semDedupAuto(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, targetCell: Int = 512, replication: Int = 2,
      seed: Long = 42L): DataFrame =
    semDedup(df, idCol, vecCol, threshold,
      SemDedupParams(targetCell = targetCell, replication = replication,
        seed = seed))

  /** Greedy embedding near-dup removal, keep-smallest-id (same loser
    * rule as [[minhashDedup]]): drops every row appearing as the larger
    * id of a qualifying pair. `exact=true` routes pair generation
    * through [[embeddingNearDupsExact]] (recall 1.0, quadratic);
    * default is the sign-LSH approximate path. */
  def embeddingDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, exact: Boolean = false): DataFrame = {
    val pairs =
      if (exact) embeddingNearDupsExact(df, idCol, vecCol, threshold)
      else embeddingNearDups(df, idCol, vecCol, threshold)
    val losers = pairs.select(col("id2").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SUBSTRING-level exact dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * variant): every occurrence of a duplicated token `k`-gram is
    * removed from the corpus EXCEPT one globally elected keeper — the
    * occurrence with the smallest (id, position) — and overlapping
    * removed grams merge into one span, so a long passage pasted into
    * many documents survives in exactly one of them and vanishes,
    * whole, from the rest. Document-level dedup ([[exact]],
    * [[minhashDedup]]) cannot see these: two mostly-different pages
    * sharing one boilerplate paragraph are not near-dups.
    *
    * Output = every row of `df`, with `textCol` rewritten (kept tokens
    * joined by single spaces) for documents that lost a span, ORIGINAL
    * text untouched otherwise, plus a `removed_tokens` count. Gram
    * identity is the lowercased chained token-hash of
    * [[graft.functions.WordNgramHashSeq]] — the same tokenization and
    * identity as [[graft.ops.Contamination]]'s set-form grams.
    * Intra-document repeats count: a gram occurring twice in ONE
    * document is duplicated, and its second occurrence is removed.
    *
    * Scale shape (the suffix-array original is a single-machine
    * algorithm; this is the distributed equi-join re-expression):
    *  - one native pass per document builds the positional gram-hash
    *    array BELOW the generator (no per-output-row re-evaluation);
    *  - occurrences shuffle ONCE on the gram hash: a hash-aggregate
    *    (partial combine) finds duplicated grams and elects keepers,
    *    and the occurrence side reuses the same exchange for the
    *    join back (ReuseExchange) — never all-pairs;
    *  - removal starts collapse per document (second shuffle, on id)
    *    and merge into disjoint spans inside one `aggregate` HOF over
    *    the sorted starts — no per-document window sort;
    *  - the rebuild is a pure projection: `filter` with positional
    *    index against the merged spans (cost O(tokens × spans) per
    *    document; spans are merged precisely to keep that small).
    *
    * Keeper election encodes (id, pos) as `id * posEncode + pos`, the
    * engine-portable total order (a DuckDB oracle can replicate it);
    * a document with more than `posEncode` grams fails loudly rather
    * than electing a wrong keeper, and an id outside
    * ±Long.MaxValue / posEncode (~8.8e12 at the default 2^20) fails
    * loudly too — both bounds are enforced in-plan, not just
    * documented. */
  def removeDuplicatedSpans(
      df: DataFrame, idCol: String, textCol: String, k: Int = 20,
      posEncode: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"removeDuplicatedSpans: k must be >= 1, got $k")
    requireIntegralId(df, idCol, "removeDuplicatedSpans")

    val grams = df
      .select(col(idCol).cast("long").as("__id"),
        graft.functions.exprs.word_ngram_hash_seq(col(textCol).cast("string"), k)
          .as("__grams"))
      // the encoding's correctness bound, enforced where it would
      // break. The isNull arm is load-bearing: under ANSI mode a null
      // `when` condition is not false, so without it a null-text row
      // (null grams) would fall into the raise_error branch and kill
      // the job with a spurious over-bound error.
      .select(
        // the other half of the encoding bound, enforced like the
        // gram bound: an id with |id| > Long.MaxValue/posEncode
        // overflows `id * posEncode + pos` and silently elects wrong
        // keepers. Same isNull arm, same ANSI reasoning as below.
        when(col("__id").isNull
          || abs(col("__id")) <= lit(Long.MaxValue / posEncode), col("__id"))
          .otherwise(raise_error(format_string(
            "removeDuplicatedSpans: id %s overflows the (id,pos) " +
              s"encoding (|id| must be <= ${Long.MaxValue / posEncode} " +
              s"at posEncode=$posEncode); lower posEncode or remap ids",
            col("__id"))))
          .as("__id"),
        when(col("__grams").isNull
          || size(col("__grams")).cast("long") <= lit(posEncode), col("__grams"))
          .otherwise(raise_error(format_string(
            "removeDuplicatedSpans: document %s has more than " +
              s"$posEncode grams; raise posEncode", col("__id"))))
          .as("__grams"))
    // OUTER posexplode on purpose: the non-outer form makes Catalyst
    // infer a `size(__grams) > 0` filter and substitute it down into
    // the scan, re-running the native gram pass per row below the
    // projection that was meant to materialize it once (plan-audited).
    // The null rows of empty-gram docs are dropped right above the
    // generator instead — that filter can't sink below its own source.
    val occ = grams.select(col("__id"),
      posexplode_outer(col("__grams")).as(Seq("__pos", "__g")))
      .filter(col("__g").isNotNull)
    val enc = col("__id") * lit(posEncode) + col("__pos")

    val dup = occ.groupBy("__g")
      .agg(count(lit(1)).as("__cnt"), min(enc).as("__keep"))
      .filter(col("__cnt") > 1)
    val starts = occ.join(dup, "__g")
      .filter(enc =!= col("__keep"))
      .groupBy("__id")
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))

    // merge sorted fixed-width starts into disjoint spans: each start s
    // covers [s, s+k-1]; sorted order makes the merge ONE native
    // O(starts) pass ([[graft.functions.MergeSpanStarts]] — an
    // aggregate-fold's array-append accumulator would re-copy the
    // span list per closed span, O(spans²) element copies on a
    // many-span hostile document)
    val spans = starts.select(col("__id"),
      graft.functions.spanExprs.merge_span_starts(col("__starts"), k)
        .as("__ivs"))

    val joined = df.withColumn("__id", col(idCol).cast("long"))
      .join(spans, Seq("__id"), "left")
    val toks = filter(
      split(col(textCol).cast("string"), "[ \\t\\n\\u000B\\f\\r]+"),
      t => t =!= "")
    // one merged walk over (tokens, sorted disjoint spans): O(tokens +
    // spans) per doc — an exists() per token is O(tokens · spans), a
    // straggler on a multi-MB doc with many removed spans
    val kept = graft.functions.spanExprs.tokens_outside_spans(toks, col("__ivs"))
    val touched = col("__ivs").isNotNull
    val outCols = df.columns.map {
      case c if c == textCol =>
        when(touched, array_join(kept, " ")).otherwise(col(textCol)).as(textCol)
      case c => col(c)
    } :+ when(touched, (size(toks) - size(kept)).cast("bigint"))
      .otherwise(lit(0L)).as("removed_tokens")
    joined.select(outCols.toIndexedSeq: _*)
  }
}
