package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Deterministic, rerun-stable sampling and dataset splitting — the
  * sampling family a training-data pipeline actually needs. Every
  * decision is a pure function of (key, salt), never of RNG state,
  * partitioning, or row order, so:
  *
  *  - a row keeps its verdict across reruns, retries, and cluster
  *    resizes (Spark's `df.sample` does not survive any of those);
  *  - train/val/test membership is consistent between independently
  *    running jobs that share the salt — no coordination, no joins;
  *  - results are engine-portable: the hash is md5 of the key string,
  *    identical in any system (which is also what puts these operators
  *    under the DuckDB oracle gate, not just rows-only checks).
  *
  * The decision compares a fixed-width hex prefix of
  * md5(key || salt) against fraction thresholds: 12 hex digits = 48
  * uniform bits, so realized fractions sit within 2^-48 of the target
  * (plus binomial noise), and changing the salt draws an independent
  * sample. Lexicographic compare of lowercase hex equals numeric
  * compare — no hex→int conversion is needed on either engine.
  */
object Sampling {

  private val Digits = 12

  /** Hex threshold string for a fraction: floor(fraction · 16^12) as 12
    * lowercase hex digits. Public because the oracle SQL embeds it. */
  def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction < 1.0,
      s"fraction must be in [0, 1); got $fraction (1.0 = keep everything)")
    val scaled = (BigDecimal(fraction) * BigDecimal(BigInt(16).pow(Digits)))
      .setScale(0, scala.math.BigDecimal.RoundingMode.FLOOR).toBigInt
    val hex = scaled.toString(16)
    "0" * (Digits - hex.length) + hex
  }

  /** The 12-hex-digit decision prefix for a key. */
  def hashPrefix(key: Column, salt: String): Column =
    substring(md5(concat(key.cast("string"), lit(salt))), 1, Digits)

  /** Keep ~`fraction` of rows, decided per `key`: stable under reruns
    * and across engines. A narrow filter over a codegen'd expression —
    * no shuffle, pushes nothing but survives any plan around it. */
  def sampleByHash(df: DataFrame, key: Column, fraction: Double, salt: String): DataFrame =
    if (fraction >= 1.0) df
    else df.filter(hashPrefix(key, salt) < lit(hexThreshold(fraction)))

  /** Split-label column: `weights` are (label, weight), normalized to
    * sum 1; the last label absorbs the tail so every row gets exactly
    * one label. Use the same (key, salt) in any number of jobs to get
    * consistent membership without coordination. */
  def splitByHash(key: Column, weights: Seq[(String, Double)], salt: String): Column = {
    require(weights.size >= 2, "need at least two split labels")
    require(weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val h = hashPrefix(key, salt)
    val cuts = weights.init.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    val branches = weights.init.map(_._1).zip(cuts)
    branches.foldRight(lit(weights.last._1): Column) { case ((label, cut), els) =>
      // a cumulative cut can ROUND to >= 1.0 when a tail weight is
      // negligibly small; "g" sorts above every hex digit, so the
      // branch then takes everything — the correct limit semantics —
      // instead of hexThreshold throwing
      val cutLit = if (cut >= 1.0) "g" else hexThreshold(cut)
      when(h < lit(cutLit), lit(label)).otherwise(els)
    }
  }

  /** Per-stratum keep fractions (data mixing / source-language
    * reweighting): keep ~`fractions(stratum)` of each stratum's rows
    * (`defaultFraction` for unlisted strata), decided by the same
    * engine-portable (key, salt) hash as [[sampleByHash]]. Mixture
    * weights retune per source without coordination, and membership
    * stays rerun- and engine-stable. A fraction >= 1.0 keeps the whole
    * stratum ("g" sorts above every hex digit). Scale shape: one
    * narrow codegen'd filter — a scan-time decision, no aggregation,
    * no shuffle, regardless of corpus size or stratum skew. */
  def sampleByStratum(
      df: DataFrame, key: Column, stratum: Column,
      fractions: Seq[(String, Double)], defaultFraction: Double,
      salt: String): DataFrame = {
    require(fractions.nonEmpty, "need at least one stratum fraction")
    def thr(f: Double): Column = if (f >= 1.0) lit("g") else lit(hexThreshold(f))
    val cut = fractions.foldRight(thr(defaultFraction)) {
      case ((label, f), els) => when(stratum === label, thr(f)).otherwise(els)
    }
    df.filter(hashPrefix(key, salt) < cut)
  }

  /** Token-BUDGET mixture (the way training mixtures are actually
    * specified: "take 30B tokens of web, 5B of code", not keep
    * fractions): per stratum, documents are taken in the deterministic
    * (hash, key) order of [[shuffleByHash]] until the running
    * `weightCol` total reaches the stratum's budget. For budgets in
    * REAL tokenizer tokens (not a char/regex proxy), weight with
    * [[graft.ops.Bpe.withTokenCount]]. The document that
    * CROSSES the budget is kept (the filter is on the exclusive
    * prefix sum `cum_before`), so any positive budget takes at least
    * one document and realized tokens overshoot by at most one
    * document. Strata without a budget are dropped — a mixture spec
    * lists what ships. Rerun-stable and engine-portable like every
    * sampler here; `cum_before` is emitted for auditability.
    *
    * Scale shape: the textbook per-stratum running total
    * (`sum OVER (PARTITION BY stratum ORDER BY hash)`) makes each
    * stratum ONE window partition — and a real mixture has a stratum
    * holding most of the corpus. Instead, the leading `bucketHexDigits`
    * of the decision hash split every stratum into 16^digits
    * hash-ordered buckets ([[graft.ops.Packing.globalCumsum]]'s
    * order-aligned-bucket trick, keyed per stratum), and
    * [[graft.plans.PrefixSum]] sums and numbers each (stratum, bucket)
    * cell in its own task — many small ordered cells, never one
    * partition per stratum. The op is lazy; the action runs the input
    * once, through one exchange on the cells.
    *
    * `key` must be non-null (it has no hash position); NULL weights
    * count as 0, like SQL SUM. Duplicate keys are tolerated ONLY as
    * identical copies: two rows sharing a key must carry the same
    * weight (differing weights raise from the executors — the
    * arbitrary tie order would decide which weight crosses the budget,
    * breaking rerun stability), and copies differing in other payload
    * columns get kept/dropped in arbitrary per-copy assignment when
    * the budget lands between them — oversampled corpora should use a
    * composite key (doc_id*K+copy). */
  def sampleByTokenBudget(
      df: DataFrame, key: Column, stratumCol: String, weightCol: String,
      budgets: Seq[(String, Long)], salt: String,
      bucketHexDigits: Int = 2): DataFrame = {
    require(budgets.nonEmpty, "need at least one stratum budget")
    require(budgets.forall(_._2 > 0), "budgets must be positive token counts")
    require(bucketHexDigits >= 1 && bucketHexDigits < Digits,
      s"bucketHexDigits must be in [1, $Digits); got $bucketHexDigits")
    require(!df.columns.contains("__tbh__"),
      "input already has a column named __tbh__")

    val budget = budgets.foldRight(lit(null).cast("long")) {
      case ((label, b), els) => when(col(stratumCol) === label, lit(b)).otherwise(els)
    }
    // budget-less strata leave before any aggregation work; the
    // prefix sum itself is Packing's (one audited implementation —
    // including the loud null-key guard: a null key hashes to a null
    // bucket, which would silently misplace weight)
    val hashed = df.filter(budget.isNotNull)
      .withColumn("__tbh__", hashPrefix(key, salt))
    Packing.bucketedCumsum(
      hashed, Seq(stratumCol),
      substring(col("__tbh__"), 1, bucketHexDigits),
      Seq(col("__tbh__"), key),
      coalesce(col(weightCol).cast("long"), lit(0L)),
      "sampleByTokenBudget", requireUniqueOrder = false)
      .filter(col("cum_before") < budget)
      .drop("__tbh__")
  }

  /** Temperature reweighting fractions (the multilingual-mixture
    * standard: sampling probability ∝ stratum_size^alpha; alpha < 1
    * upweights small strata): per-stratum keep fractions for an
    * expected `targetDocs`-document draw,
    * `f_s = min(1, ((T · n_s^alpha) / Σ n^alpha) / n_s)`.
    *
    * Determinism contract (what puts the op under the DuckDB gate):
    * strata fold into Σ in LABEL order; alpha = 0.5 routes through
    * `sqrt`, alpha = 0.25 through `sqrt ∘ sqrt` (two correctly-rounded
    * ops, still engine-portable), and alpha = 1.0 through the
    * identity — all correctly-rounded IEEE, so with the stated
    * operation order the fractions are bit-identical on any IEEE
    * engine, and the hash thresholds `floor(f · 16^12)` are exact
    * because 16^12 is a power of two (a binary-FP multiply by it is
    * exact). Other alphas go through `pow` — libm,
    * engine-approximate — fine for production mixing, not for a
    * cross-engine hash gate. */
  def temperatureFractions(
      counts: Seq[(String, Long)], targetDocs: Long,
      alpha: Double): Seq[(String, Double)] =
    temperatureShares(counts, targetDocs, alpha)
      .map { case (s, m) => s -> math.min(1.0, m) }

  /** The shared determinism-critical core of [[temperatureFractions]]
    * and [[temperatureMultiplicities]] — label sort, alpha-routed
    * weight, label-ordered Σ fold, unclamped share
    * m_s = ((T · w(n_s))/Σ)/n_s. ONE copy of this arithmetic so the
    * two callers (which differ only in the final min(1, ·) clamp)
    * cannot drift apart. Empty counts yield empty shares. */
  private def temperatureShares(
      counts: Seq[(String, Long)], targetDocs: Long,
      alpha: Double): Seq[(String, Double)] = {
    require(targetDocs > 0, s"targetDocs must be positive, got $targetDocs")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    require(counts.forall(_._2 > 0), "stratum counts must be positive")
    val sorted = counts.sortBy(_._1)
    def w(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble)
      else if (alpha == 0.25) math.sqrt(math.sqrt(n.toDouble))
      else if (alpha == 1.0) n.toDouble
      else math.pow(n.toDouble, alpha)
    val sigma = sorted.foldLeft(0.0) { case (acc, (_, n)) => acc + w(n) }
    sorted.map { case (s, n) =>
      s -> ((targetDocs.toDouble * w(n)) / sigma) / n.toDouble
    }
  }

  /** Temperature mixture sampling in one call: the stratum counts
    * (driver-bounded, loud past `maxStrata`) feed
    * [[temperatureFractions]], then the [[sampleByStratum]] scan-time
    * cut — the corpus itself is never shuffled. The counts are ONE
    * shuffle-free job ([[strataTotals]]), and it runs while the frame
    * is built: building the sampler executes its input once (plus the
    * map stages of any exchange in it), outside the action. Rows with a
    * NULL stratum are dropped (no label, no share — the
    * [[sampleByTokenBudget]] budget-less rule); an empty corpus
    * passes through empty. */
  def sampleByTemperature(
      df: DataFrame, key: Column, stratumCol: String, targetDocs: Long,
      alpha: Double, salt: String, maxStrata: Int = 100000): DataFrame = {
    val counts = strataTotals(df, stratumCol, lit(1L), maxStrata, "sampleByTemperature")
    if (counts.isEmpty) df.filter(col(stratumCol).isNotNull)
    else sampleByStratum(df, key, col(stratumCol),
      temperatureFractions(counts, targetDocs, alpha),
      defaultFraction = 0.0, salt)
  }

  /** Per-stratum totals of `value` (a LONG: 1 per row counts rows)
    * over the rows with a non-null stratum, labelled by the stratum's
    * string form. ONE shuffle-free job, run while the caller builds its
    * frame: each task sums its partition's rows of the two pruned
    * columns in a hash map, and the driver merges the maps. An input
    * with exchanges adds their map stages' jobs. Loud past
    * `maxStrata`, in a task and after the merge. */
  private def strataTotals(
      df: DataFrame, stratumCol: String, value: Column, maxStrata: Int,
      what: String): Seq[(String, Long)] = {
    require(maxStrata > 0, "maxStrata must be positive")
    val pruned = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol), value.cast("long"))
    val dt = pruned.schema.head.dataType
    val parts = pruned.queryExecution.toRdd.mapPartitions { it =>
      val totals = new java.util.HashMap[Any, Array[Long]]()
      while (it.hasNext && totals.size <= maxStrata) {
        val r = it.next()
        val s = r.get(0, dt)
        val t = totals.get(s)
        val v = if (r.isNullAt(1)) 0L else r.getLong(1)
        if (t != null) t(0) = Math.addExact(t(0), v)
        else totals.put(s match { case u: UTF8String => u.clone(); case o => o }, Array(v))
      }
      Iterator.single(totals)
    }.collect()
    val merged = new java.util.HashMap[Any, Array[Long]]()
    parts.foreach(_.forEach { (s, t) =>
      val m = merged.putIfAbsent(s, t)
      if (m != null) m(0) = Math.addExact(m(0), t(0))
    })
    // a task stops past maxStrata, so one partition's excess shows here
    require(merged.size <= maxStrata,
      s"$what: more than $maxStrata strata — the fraction " +
        "table is driver-held; pre-bucket the stratum column")
    val label = CatalystTypeConverters.createToScalaConverter(dt)
    merged.asScala.iterator.map { case (s, t) => (label(s).toString, t(0)) }.toSeq
  }

  /** Per-ROW keep probability — SOFT quality filtering (down-weight
    * by score instead of a hard cutoff, the French-CC/CCNet trick for
    * keeping some tail mass): keep iff hash(key) < p · 16^12, where
    * p = `probCol` clamped to [0, 1] (p of NULL or NaN drops the
    * row — no score, no draw; without the explicit NaN guard the
    * clamp would silently resolve NaN to keep-all, since Spark
    * orders NaN above every double; p ≥ 1 keeps unconditionally).
    * Deterministic,
    * rerun- and engine-stable, and exactly replayable: the per-row
    * threshold is floor(p · 16^12) rendered as 12 lowercase hex
    * digits in-plan — a multiply by 2^48 is exact in binary FP, so
    * any IEEE engine derives the identical threshold. One narrow
    * codegen'd filter, no shuffle. */
  def sampleByProbability(
      df: DataFrame, key: Column, probCol: Column, salt: String): DataFrame = {
    val pd = probCol.cast("double")
    val p = when(isnan(pd), lit(null).cast("double"))
      .otherwise(least(greatest(pd, lit(0.0)), lit(1.0)))
    val thr = when(p >= 1.0, lit("g"))
      .otherwise(lpad(lower(hex(floor(p * lit(281474976710656.0))
        .cast("long"))), 12, "0"))
    df.filter(hashPrefix(key, salt) < thr)
  }

  /** UNCLAMPED per-stratum temperature multiplicities m_s =
    * ((targetDocs · n_s^alpha)/Σ)/n_s — [[temperatureFractions]]
    * without the min(1, ·): a boosted small stratum gets m > 1,
    * which [[oversampleByMultiplicity]] realizes as fractional
    * REPLICATION (epochs) instead of throwing the boost away. Same
    * determinism contract (label-ordered Σ, sqrt-family alphas). */
  def temperatureMultiplicities(
      counts: Seq[(String, Long)], targetDocs: Long,
      alpha: Double): Seq[(String, Double)] =
    temperatureShares(counts, targetDocs, alpha)

  /** Deterministic fractional OVERSAMPLING — the epoch side of a
    * training mixture ([[sampleByStratum]] can only keep ≤ 1 copy;
    * UniMax/low-resource-language mixtures REPLICATE boosted strata):
    * every row of stratum s appears floor(m_s) times for sure, plus
    * one more copy iff the engine-portable hash of (key, '#', copy)
    * clears the frac(m_s) threshold — so the expected multiplicity is
    * exactly m_s, membership is rerun- and engine-stable, and each
    * copy is tagged with its `copy` index (the epoch id a curriculum
    * or dedup step can key on). Unlisted strata are dropped (a
    * mixture lists what ships) — at the limit, an EMPTY multiplicity
    * list (the counts an empty or all-null corpus produces) ships
    * nothing: empty-in ⇒ empty-out with the same (input ++ copy)
    * schema, mirroring [[sampleByTemperature]]'s empty-corpus
    * pass-through rather than a contract error. Scale shape: one codegen'd
    * explode(sequence(0, floor(m))) + a narrow filter — per-row fan-out
    * of at most ceil(m), no aggregation, no shuffle. */
  def oversampleByMultiplicity(
      df: DataFrame, key: Column, stratumCol: String,
      multiplicities: Seq[(String, Double)], salt: String): DataFrame = {
    require(multiplicities.forall(_._2 > 0), "multiplicities must be positive")
    require(!df.columns.contains("copy"),
      "input already has a column named copy")
    if (multiplicities.isEmpty)
      return df.withColumn("copy", lit(0)).filter(lit(false))
    val mExpr = multiplicities.foldRight(lit(null).cast("double")) {
      case ((l, m), els) => when(col(stratumCol) === l, lit(m)).otherwise(els)
    }
    // per-stratum fractional thresholds, computed driver-side so the
    // floor(frac · 16^12) arithmetic is the shared exact form
    val thrExpr = multiplicities.foldRight(lit(null).cast("string")) {
      case ((l, m), els) =>
        when(col(stratumCol) === l,
          lit(hexThreshold(m - math.floor(m)))).otherwise(els)
    }
    val nFull = floor(mExpr).cast("int")
    df.filter(col(stratumCol).isin(multiplicities.map(_._1): _*))
      .withColumn("copy", explode(sequence(lit(0), nFull)))
      .filter(col("copy") < nFull ||
        hashPrefix(concat(key.cast("string"), lit("#"), col("copy").cast("string")),
          salt) < thrExpr)
  }

  /** [[sampleByTemperature]] with the stratum SIZE measured in a
    * weight column's units instead of documents — temperature over
    * TOKEN MASS, which is how multilingual mixtures are actually
    * rebalanced once a tokenizer exists (a stratum of few huge docs
    * and one of many tiny docs are the same training mass, and
    * doc-count temperature misweights them): keep fraction
    * f_s = min(1, (T·w(tok_s)/Σ)/tok_s) with tok_s = Σ weight over
    * the stratum and T = `targetTokens`, so the realized token mass
    * is ≈ T·w(tok_s)/Σ per stratum in expectation under the
    * doc-level hash cut. Same determinism contract as
    * [[temperatureFractions]] (exact long sums feed it; alpha 0.5 /
    * 0.25 / 1.0 engine-portable). NULL weights count 0; NULL strata
    * drop. Like [[sampleByTemperature]], building it runs ONE
    * shuffle-free job: the token sums ([[strataTotals]]). */
  def sampleByTokenTemperature(
      df: DataFrame, key: Column, stratumCol: String, weightCol: String,
      targetTokens: Long, alpha: Double, salt: String,
      maxStrata: Int = 100000): DataFrame = {
    val all = strataTotals(df, stratumCol, col(weightCol), maxStrata,
      "sampleByTokenTemperature")
    if (all.isEmpty) df.filter(col(stratumCol).isNotNull)
    else {
      val totals = all.filter(_._2 > 0)
      require(totals.nonEmpty,
        "sampleByTokenTemperature: every stratum has zero total weight — " +
          "nothing to apportion")
      sampleByStratum(df, key, col(stratumCol),
        temperatureFractions(totals, targetTokens, alpha),
        defaultFraction = 0.0, salt)
    }
  }

  /** Deterministic proportional interleaving (stride scheduling — the
    * order a data loader feeds a mixture to training): appends
    * `mix_priority = (per-stratum rank + 1) / weight`, where the rank
    * runs in the deterministic [[shuffleByHash]] (hash, key) order;
    * sorting by (`mix_priority`, stratum, key) yields a total order in
    * which each listed stratum appears with long-run frequency ∝ its
    * weight — stratum s's k-th document sits at virtual time k/w_s, so
    * any prefix holds each stratum's share in ratio of the weights
    * (±1 document). Unlisted strata are dropped (a mixture lists what
    * ships). Scale shape: the rank is the bucketed exclusive
    * prefix sum at weight 1 ([[graft.ops.Packing]]'s — per
    * (stratum, bucket) cells, never one partition per stratum), the
    * division a codegen'd projection; the SORT is the consumer's
    * (usually per-shard after [[graft.ops.Packing.assignShards]], or a
    * global range sort when a single serial order is really wanted).
    * Rank + 1 is exact in a double (< 2^53) and the division is one
    * correctly-rounded IEEE op — engine-portable, hash-gateable.
    *
    * Duplicate keys are tolerated only as identical copies: the two
    * tied rows receive the two adjacent priorities in arbitrary
    * per-copy assignment, which is invisible for true copies but
    * rerun-UNSTABLE if the payloads differ — oversampled corpora
    * should use a composite key (doc_id*K+copy). */
  def interleaveByWeight(
      df: DataFrame, key: Column, stratumCol: String,
      weights: Seq[(String, Double)], salt: String,
      bucketHexDigits: Int = 2): DataFrame = {
    require(weights.nonEmpty, "need at least one stratum weight")
    require(weights.forall(_._2 > 0), "weights must be positive")
    require(!df.columns.contains("__tbh__"),
      "input already has a column named __tbh__")
    val listed = df.filter(col(stratumCol).isin(weights.map(_._1): _*))
      .withColumn("__tbh__", hashPrefix(key, salt))
    val ranked = Packing.bucketedCumsum(
      listed, Seq(stratumCol),
      substring(col("__tbh__"), 1, bucketHexDigits),
      Seq(col("__tbh__"), key),
      lit(1L), "interleaveByWeight", requireUniqueOrder = false)
    val wExpr = weights.foldRight(lit(null).cast("double")) {
      case ((label, w), els) => when(col(stratumCol) === label, lit(w)).otherwise(els)
    }
    ranked
      .withColumn("mix_priority", (col("cum_before") + 1).cast("double") / wExpr)
      .drop("__tbh__", "cum_before")
  }

  /** Mixture AUDIT — the check a training launch runs over a
    * [[sampleByTokenBudget]] cut before shipping it: per-stratum kept
    * documents, realized weight, the budget it was cut against,
    * utilization, and `within_one_doc` — the op's overshoot contract
    * (the exclusive-prefix filter keeps exactly the crossing document,
    * so realized < budget + the largest kept weight) restated as data,
    * so a drifted cut is visible in the audit table, not just in a
    * test. ONE hash aggregate over the cut; strata absent from
    * `budgets` audit with NULL budget/utilization (they should not
    * appear in a faithful cut at all), and — the other direction —
    * every BUDGETED stratum gets a row even when the cut kept nothing
    * from it (n_docs 0, realized 0, utilization 0): "stratum missing
    * from the cut" must be visible in the table, not silently absent
    * from it. An empty stratum trivially satisfies the overshoot
    * contract (0 < budget + 0). */
  def mixtureAudit(
      sampled: DataFrame, stratumCol: String, weightCol: String,
      budgets: Seq[(String, Long)]): DataFrame = {
    val budget = budgets.foldRight(lit(null).cast("long")) {
      case ((label, b), els) => when(col(stratumCol) === label, lit(b)).otherwise(els)
    }
    val w = coalesce(col(weightCol).cast("long"), lit(0L))
    val spark = sampled.sparkSession
    import spark.implicits._
    // one row per budgeted stratum, typed to the cut's stratum column
    // so the outer join unifies. The cast RESOLVES in analysis even
    // when a label can't parse as the stratum type — with ANSI off it
    // would silently yield NULL-keyed budget rows that never join
    // anything — so validate it driver-side (budgets is a small
    // driver Seq; this collect is a LocalTableScan) and fail loudly
    // naming the bad labels.
    val stratumType = sampled.schema(stratumCol).dataType
    val castLabels = budgets.map(_._1).toDF("__bl__")
      .select(col("__bl__").cast(stratumType).as(stratumCol))
    val badLabels = budgets.map(_._1).zip(castLabels.collect())
      .collect { case (l, r) if r.isNullAt(0) => l }
    require(badLabels.isEmpty,
      s"mixtureAudit: budget labels ${badLabels.mkString("[", ", ", "]")} " +
        s"do not parse as the stratum type ${stratumType.simpleString}")
    val budgeted = broadcast(castLabels)
    sampled.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(w).as("realized"),
        max(w).as("__maxw__"))
      .join(budgeted, Seq(stratumCol), "full_outer")
      .na.fill(0L, Seq("n_docs", "realized", "__maxw__"))
      .withColumn("budget", budget)
      .withColumn("utilization",
        col("realized").cast("double") / col("budget").cast("double"))
      .withColumn("within_one_doc",
        col("realized") < col("budget") + col("__maxw__"))
      .drop("__maxw__")
  }

  /** Deterministic corpus shuffle: a TOTAL order by the same
    * engine-portable (key, salt) hash as [[sampleByHash]] —
    * reproducible training-order randomization. Rerun it and get the
    * same permutation; change the salt and draw an independent one.
    * Prefix ties break on the key, so the order is total on any
    * engine. Cost: one global sort (range exchange + sort) — the
    * unavoidable price of a global permutation; when per-shard
    * randomization suffices (it usually does once shards are
    * assigned), `local = true` sorts within partitions with NO
    * exchange at all. */
  def shuffleByHash(
      df: DataFrame, key: Column, salt: String,
      local: Boolean = false): DataFrame =
    if (local) df.sortWithinPartitions(hashPrefix(key, salt), key)
    else df.orderBy(hashPrefix(key, salt), key)

  /** Exactly `n` rows per stratum (fewer when the stratum is smaller),
    * chosen by hash order of `keyCol` — a deterministic simple random
    * sample per group. Rides the bounded top-k buffers
    * ([[Aggregators.groupTopK]]): map-side partial combine, no full
    * window sort of each stratum. The hash order uses the NUMERIC value
    * of the 48-bit prefix (exact in a Double), which equals hex-string
    * order; ties on the full 48 bits fall back to `keyCol` ascending.
    * `keyCol` must be integral (the top-k buffers carry it as LONG —
    * a string key would hash fine but cast to null on output).
    * Returns (strata..., keyCol) — project/join back for payloads. */
  def stratifiedSample(
      df: DataFrame, strata: Seq[String], keyCol: String,
      n: Int, salt: String): DataFrame = {
    ColumnChecks.requireIntegral(df, keyCol, "stratifiedSample",
      "A non-integral key would hash fine but not survive the top-k buffers. Map it " +
        "to a surrogate long first (e.g. xxhash64), or sample with sampleByHash instead.")
    val ord = -conv(hashPrefix(col(keyCol), salt), 16, 10).cast("double")
    Aggregators.groupTopK(
      df.withColumn("__ord__", ord), strata, "__ord__", keyCol, n)
      .drop("__ord__")
  }
}
