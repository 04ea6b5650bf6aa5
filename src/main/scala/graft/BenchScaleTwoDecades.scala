package graft

import org.apache.spark.sql.SparkSession

/** Multi-decade scaling measurement: per (query, corpus size), one
  * cold run warms codegen and the steady number is the MINIMUM of two
  * repeats (the [[Bench]] method: min over repeats of a deterministic
  * query converges to the true cost from above); the per-query log-log
  * slope log10(t(hi) / t(lo)) is then ≈ 1 for linear work, < 1 while
  * fixed overhead dominates, and > ~1.3 where superlinear work (a pair
  * enumeration, an unbounded window, a driver loop) creeps in. Run
  * over FOUR corpus sizes — sf0.01 → sf0.1 → an sf1-equivalent
  * (10 replicas) → an sf2.6-equivalent (26 replicas, [[ScaleCorpus]]'s
  * rotation ceiling) — so each family shows two consecutive decade
  * slopes, and the worst families a third ~0.4-decade confirmation
  * point. One decade cannot separate fixed overhead from the
  * asymptote; the SECOND decade is where a superlinear term surfaces;
  * the THIRD point confirms (or falsifies) the decade-2 trend.
  *
  * Beyond timings, the artifact carries an ATTRIBUTION section
  * ([[attribution]]): per-stage candidate-pair and bucket/cell
  * occupancy counts for the similarity-dedup flagships at mid/hi/xhi,
  * plus the cluster family's gram occupancy and CC round structure and
  * the cross family's occupancy at hi/xhi. Each family's counts come
  * from one untimed run of its gate, read from the counters the pair
  * operators observe on that run ([[graft.ops.Occupancy]]); the timed
  * repeats carry no instrumentation. Attribution from round 11's first
  * run (the reason the corpus-sized quantizer is now the DEFAULT
  * semantic path):
  *  - semantic at fixed nCells=8: candidate pairs 0.999M → 100.0M for
  *    a 10× corpus — exact quadratic cell fill (Σ n_c² with n_c ∝ n);
  *    the auto-sized default pins occupancy and returns to linear.
  *  - minhash: every stage linear (pairs 1816 → 19238, screen
  *    survivors 278 → 2659, zero capped buckets) — its slope rise is
  *    fixed overhead amortizing toward slope 1.0, benign.
  *
  * The headline is SPLIT: `worst_production` covers the shipping
  * paths; `worst_diagnostic` isolates the deliberately-pinned
  * fixed-quantizer row (q_dedup_semantic_fixed), whose quadratic
  * regime is the measured thing the production default avoids — a
  * dashboard should quote the production number.
  *
  * Covers the heavy dedup set plus the ANN / pack / exact-dedup
  * families (documents + embeddings only — the tables ScaleCorpus
  * replicates). Output: one JSON line to stdout and
  * BENCH_SCALE_r22.json in the working directory.
  *
  * Usage: BenchScaleTwoDecades [loDir midDir hiDir xhiDir]  (defaults:
  * /root/testdata/sf0.01, /root/testdata/sf0.1, /tmp/graft-sf1,
  * /tmp/graft-sf26)
  */
object BenchScaleTwoDecades {

  /** The deliberately-pinned diagnostic rows, reported under
    * `worst_diagnostic` and excluded from the production headline. */
  val diagnosticQueries: Set[String] = Set("q_dedup_semantic_fixed")

  /** The heaviest dedup/decontamination gates by steady-state time
    * in BENCH_r07.json, plus q_dedup_ngram_blocked (the corpus-scale
    * sibling of the labeled-quadratic q_dedup_ngram, which is excluded
    * by design: its all-pairs form is documented reference-scale), the
    * iterative-CC path and the chunking generator. */
  val heavyQueries: Seq[String] = Seq(
    "q_dedup_minhash_cluster", "q_dedup_cross", "q_dedup_minhash",
    "q_dedup_ngram_blocked", "q_decontaminate_bloom", "q_prep_mix",
    "q_dedup_cluster", "q_chunk")

  val queries: Seq[String] = heavyQueries ++ Seq(
    "q_dedup_exact", "q_dedup_semantic", "q_dedup_semantic_fixed",
    // q_simsearch_lsh (fixed 4-bit bands) ran here through r15's
    // sweep, which measured it saturating at sf1+ (all 64 buckets
    // capped, 0 pairs) — the all-capped guard now FAILS that shape
    // loudly, so the scale row is the corpus-sized plan instead; the
    // fixed-band gate still runs in the sf0.1 bench and in the
    // attribution section (where its guard trip is the datapoint)
    "q_simsearch_ivf", "q_simsearch_lsh_auto", "q_pack",
    "q_simsearch_quant", "q_project_rp_full",
    // round-13 full-corpus families: real-token budgeting/packing/
    // chunking (BPE encode is the per-row cost), the two mixture ops
    // (prefix-sum + scan shapes), and boundary-table packing — all
    // expected ~linear
    "q_sample_budget_bpe", "q_pack_bpe", "q_chunk_bpe",
    "q_sample_temperature", "q_mixture_order", "q_shards_boundaries",
    // round-17 family: whole-document next-fit packing over the full
    // corpus (encode + one bucket shuffle + streaming fold — expected
    // ~linear, the one-exchange plan audited in PackingSpec)
    "q_pack_whole_full",
    // round-14 families: encode-only THROUGHPUT (fixed model, whole
    // corpus — a tokenizer regression must show as a slope, not an
    // anecdote) and the full text→ids→fixed-length-sequences pipeline
    "q_bpe_encode_full", "q_pack_ids_full",
    // round-18 family: banded cross-corpus embedding dedup at corpus
    // scale (combined-population band plan + cross-side-only bucket
    // collisions — expected ~linear like the lsh_auto row)
    "q_dedup_cross_embedding_full")

  /** Scale-only run shapes that are not gate queries: the gate form of
    * q_project_rp caps at 300 vectors (the oracle's brute-force
    * scope), which would measure filter pruning, not the operator —
    * the scale row projects the FULL corpus (one codegen'd pass,
    * expect flat-to-linear, like q_simsearch_quant's full-corpus
    * fit+encode+score, which runs as its gate form unchanged). */
  val extraThunks: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "q_project_rp_full" -> ((s, dir) =>
        ops.VectorOps.randomProject(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          outDim = 16, tag = "rp")),
      // encode-only throughput: the fixed gate model over the FULL
      // corpus, reduced to one total so column pruning cannot skip the
      // encode (a bare select(...).count() would) — the row's time IS
      // tokens/sec up to the corpus token total, expected ~linear
      "q_bpe_encode_full" -> ((s, dir) =>
        Tables.load(s, dir, "documents")
          .agg(org.apache.spark.sql.functions.sum(
            ops.Bpe.tokenCount(org.apache.spark.sql.functions.col("text"),
              SparkEntry.bpeGateBc(s))).as("total_tokens"))),
      // LSH at the corpus-sized band plan (lshPlan re-plans bits and
      // band count from n at the op's 0.7 design threshold) — the
      // production shape that cannot saturate by corpus growth
      "q_simsearch_lsh_auto" -> ((s, dir) =>
        ops.VectorOps.lshNeighborsAuto(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding")),
      // the full tensor pipeline at corpus scale: encode to ids +
      // 1024-id fixed-length sequences cut inside the bucketed prefix
      // sum
      "q_pack_ids_full" -> ((s, dir) =>
        ops.Packing.packTokenIds(
          ops.Bpe.withTokenIds(Tables.load(s, dir, "documents"),
            "text", "__ids__", SparkEntry.bpeGateBc(s)),
          "doc_id", "__ids__", seqLen = 1024, padId = 0)),
      // banded cross-corpus embedding dedup over the FULL corpus at
      // the op's lshNeighbors design threshold (0.7 — the regime the
      // band plan is sized for; this corpus's max pairwise cosine is
      // ~0.51, so the row measures candidate generation + screen cost
      // on a realistic no-overlap crawl, the common production case)
      "q_dedup_cross_embedding_full" -> ((s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val vid = org.apache.spark.sql.functions.col("vec_id")
        ops.Dedup.crossCorpusEmbeddingDedup(
          emb.filter(vid % 5 =!= 0),
          ops.Dedup.embeddingCatalog(
            emb.filter(vid % 5 === 0), "vec_id", "embedding"),
          "id", "embedding", "vec_id", "embedding", threshold = 0.7)
      }),
      // whole-document next-fit packing at corpus scale (the SFT
      // shape): encode + oversize filter + ONE bucket shuffle +
      // streaming per-bucket fold
      "q_pack_whole_full" -> ((s, dir) =>
        // the encoded column must not shadow packWholeDocs' internal
        // __ids__ working name (the op guards it loudly)
        ops.Packing.packWholeDocs(
          ops.Bpe.withTokenIds(Tables.load(s, dir, "documents"),
            "text", "__tok__", SparkEntry.bpeGateBc(s))
            .filter(org.apache.spark.sql.functions.size(
              org.apache.spark.sql.functions.col("__tok__"))
              .between(1, 1024)),
          "doc_id", "__tok__", seqLen = 1024, padId = 0)))

  /** Worst families by mid→hi slope in BENCH_SCALE_r10 (+ the cluster
    * path and the default corpus-sized semantic): these also run the
    * xhi point. q_dedup_semantic_fixed (nCells=8) deliberately does
    * NOT run xhi: at 26 replicas every cell exceeds maxCell and the
    * operator FAILS LOUDLY (under-sized-quantizer guard) instead of
    * returning zero pairs — the attribution section still records its
    * cell occupancy there: the guard trips after the counters are
    * posted. */
  val xhiQueries: Seq[String] = Seq(
    "q_dedup_semantic", "q_dedup_minhash",
    "q_dedup_cross", "q_dedup_minhash_cluster", "q_dedup_cluster",
    "q_prep_mix", "q_simsearch_quant", "q_project_rp_full",
    "q_bpe_encode_full", "q_pack_ids_full",
    "q_dedup_cross_embedding_full")

  /** Stage populations of the similarity-dedup families at `dir`, each
    * from ONE untimed run of its gate: the counters the pair operators
    * observed on that run ([[graft.ops.Occupancy]]) under the record's
    * key names, plus the run's row count. A guard trip is a datapoint
    * (`guard_tripped` = 1, zero emitted pairs): the counters are posted
    * before the guard throws. `deep` adds the cluster family (default
    * driver union-find path, so `cc_rounds` = 0 says the shortcut ran)
    * and the cross family (the q_dedup_cross operator before its
    * anti-join, whose row count is the verified pairs). */
  def attribution(spark: SparkSession, dir: String, deep: Boolean)
      : Seq[(String, Map[String, Long])] = {
    import org.apache.spark.sql.functions.col
    val counters = new Profile.Counters
    val qmap = SparkEntry.queries ++ extraThunks
    /** One untimed gate run: its rows, whether a guard tripped, and the
      * counters it posted. */
    final case class Run(rows: Long, tripped: Long,
        observed: Map[String, org.apache.spark.sql.Row]) {
      /** A counter; 0 when nothing was posted (an empty corpus). */
      def apply(name: String, field: String = "rows"): Long =
        observed.get(name).fold(0L)(_.getAs[Long](field))
    }
    def run(gate: => org.apache.spark.sql.DataFrame): Run =
      counters.during(spark)(gate.count()) match {
        case (Right(n), o) => Run(n, 0L, o)
        case (Left(_: IllegalStateException), o) => Run(0L, 1L, o)
        case (Left(e), _) => throw e
      }
    /** The shared occupancy counters under a family's key names. */
    def occupancy(r: Run, name: String, unit: String, rowsKey: String): Map[String, Long] =
      Map(rowsKey -> r(name),
        s"${unit}s" -> r(name, "groups"),
        s"max_$unit" -> r(name, "max_group"),
        s"pairable_${unit}s" -> r(name, "pairable"),
        s"capped_${unit}s" -> r(name, "capped"),
        "candidate_pairs" -> r(name, "pairs"),
        "capped_pairs" -> r(name, "capped_pairs"))
    /** A family whose gate emits its pairs: the occupancy, the input
      * rows (`rowsKey` holds `perRow` rows per input row) and the
      * emitted pairs or a guard trip. */
    def pairFamily(gate: String, name: String, unit: String, rowsKey: String,
        perRow: Long): Map[String, Long] = {
      val r = run(qmap(gate)(spark, dir))
      occupancy(r, name, unit, rowsKey) ++ Map("rows" -> r(name) / perRow,
        "emitted_pairs" -> r.rows, "guard_tripped" -> r.tripped)
    }

    val n = Tables.load(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull).count()
    // q_dedup_minhash: 64 hashes in 8 bands
    val minhash = {
      val r = run(qmap("q_dedup_minhash")(spark, dir))
      occupancy(r, "graft.lsh.buckets", "bucket", "band_rows") ++ Map(
        "rows" -> r("graft.lsh.buckets") / 8,
        "screen_survivors" -> r("graft.lsh.pairs"),
        "verified_pairs" -> r.rows)
    }
    val (planPlanes, planRows) = ops.VectorOps.lshPlan(n, 0.7)
    val autoCells = math.max(2L, (n * 2 + 511) / 512)
    val families = Seq(
      "minhash" -> minhash,
      // q_simsearch_lsh: 16 planes in 4-plane bands; the fixed bands
      // trip the all-capped guard at sf1+, the corpus-sized plan must not
      "lsh" -> pairFamily("q_simsearch_lsh", "graft.lsh.buckets", "bucket", "band_rows", 4),
      "lsh_auto" -> (pairFamily("q_simsearch_lsh_auto", "graft.lsh.buckets", "bucket",
        "band_rows", planPlanes / planRows) ++
        Map("n_planes" -> planPlanes.toLong, "rows_per_band" -> planRows.toLong)),
      // the semantic gates replicate each vector into 2 cells
      "semantic_fixed8" -> pairFamily("q_dedup_semantic_fixed", "graft.semantic.cells",
        "cell", "assignments", 2),
      "semantic_auto" -> (pairFamily("q_dedup_semantic", "graft.semantic.cells",
        "cell", "assignments", 2) + ("n_cells" -> autoCells)))
    if (!deep) families
    else {
      val cluster = {
        val r = run(qmap("q_dedup_cluster")(spark, dir))
        val rounds = Iterator.from(1).map(i => s"graft.cc.round.$i")
          .takeWhile(r.observed.contains).map(r(_)).toSeq
        val g = "graft.shingle.grams"
        Map("gram_rows" -> r(g),
          "distinct_grams" -> r(g, "groups"),
          "pairable_grams" -> r(g, "pairable"),
          "capped_grams" -> r(g, "capped"),
          "max_gram_docs" -> r(g, "max_group"),
          "edges" -> r("graft.shingle.edges"),
          "cc_nodes" -> r("graft.cc.nodes"),
          "cc_rounds" -> rounds.size.toLong,
          "cc_max_round_edges" -> rounds.maxOption.getOrElse(0L),
          "cc_final_edges" -> rounds.lastOption.getOrElse(0L))
      }
      val cross = {
        val docs = Tables.load(spark, dir, "documents")
        val id = col("doc_id")
        val r = run(ops.Dedup.crossCorpusNearDups(
          docs.filter(id % 10 =!= 0), docs.filter(id % 10 === 0), "doc_id", "text",
          shingleN = 5, numHashes = 64, bands = 8, threshold = 0.8, charShingles = true))
        val b = "graft.lsh_cross.buckets"
        occupancy(r, b, "bucket", "band_rows") ++ Map(
          "corpus_rows" -> (r(b) - r(b, "b_rows")) / 8,
          "reference_rows" -> r(b, "b_rows") / 8,
          "screen_survivors" -> r("graft.lsh_cross.pairs"),
          "verified_pairs" -> r.rows)
      }
      families ++ Seq("cluster" -> cluster, "cross" -> cross)
    }
  }

  /** xhi is 26 replicas vs hi's 10: 0.415 decades. */
  private val xhiDecades = math.log10(26.0 / 10.0)

  def main(args: Array[String]): Unit = {
    val dirs = if (args.length == 4) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1",
        "/tmp/graft-sf1", "/tmp/graft-sf26")
    val Seq(loDir, midDir, hiDir, xhiDir) = dirs
    // the scale sweeps are as machine-sensitive as the bench, and the
    // xhi points are where drift most resembles a slope — same fixed
    // single-thread anchor as Bench, so a cross-round slope dispute is
    // one division (r14 verdict #6)
    val anchorMs = Bench.cpuAnchorMs()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)

    val qmap = SparkEntry.queries ++ extraThunks
    val missing = queries.filterNot(qmap.contains)
    require(missing.isEmpty, s"BenchScaleTwoDecades: unknown queries $missing")

    val times = scala.collection.mutable.Map.empty[(String, String), Double]
    dirs.foreach { dir =>
      val qs = if (dir == xhiDir) xhiQueries else queries
      Seq("documents", "embeddings").foreach(n =>
        Tables.load(spark, dir, n).count())
      qs.foreach { name =>
        def once(): Double = {
          val t0 = System.nanoTime()
          qmap(name)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        val cold = once()
        val steady = math.min(once(), once())
        System.err.println(
          f"[bench-scale2] $name%-26s $dir%-24s cold=$cold%7.2fs steady=$steady%7.2fs")
        times((name, dir)) = steady
      }
    }

    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def slope(lo: Double, hi: Double): Double = math.log10(hi / math.max(lo, 1e-3))

    def jmap(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val attributionJson = Seq(midDir, hiDir, xhiDir).map { dir =>
      val families = attribution(spark, dir, deep = dir != midDir)
      System.err.println(s"[bench-scale2] attribution $dir done")
      families.map { case (f, m) => s""""$f":${jmap(m)}""" }.mkString(s""""$dir":{""", ",", "}")
    }.mkString("{", ",", "}")

    val entries = queries.map { name =>
      val Seq(lo, mid, hi) = Seq(loDir, midDir, hiDir).map(d => times((name, d)))
      val reliable = lo >= 1e-3 && mid >= 1e-3
      val xhiPart = times.get((name, xhiDir)).map { x =>
        s""","t_xhi_sec":${r3(x)},"slope_hi_xhi":${r3(slope(hi, x) / xhiDecades)}"""
      }.getOrElse("")
      s""""$name":{"t_sec":[${r3(lo)},${r3(mid)},${r3(hi)}],""" +
        s""""slope_lo_mid":${r3(slope(lo, mid))},"slope_mid_hi":${r3(slope(mid, hi))},""" +
        s""""slope_two_decade":${r3(slope(lo, hi) / 2)},"reliable":$reliable$xhiPart}"""
    }
    // SPLIT headline (r11 verdict #2): the number a dashboard quotes
    // is the worst PRODUCTION slope; the deliberately-pinned
    // diagnostic row (fixed-quantizer semantic — the quadratic regime
    // the default avoids) is reported apart so it cannot masquerade
    // as a shipping-path regression
    def worstOf(qs: Seq[String]): (String, Double) = {
      val w = qs.maxBy(n => slope(times((n, midDir)), times((n, hiDir))))
      (w, slope(times((w, midDir)), times((w, hiDir))))
    }
    val (wProd, wProdSlope) = worstOf(queries.filterNot(diagnosticQueries))
    val (wDiag, wDiagSlope) = worstOf(queries.filter(diagnosticQueries))
    val line = s"""{"metric":"max_second_decade_slope_production","value":${r3(wProdSlope)},""" +
      s""""unit":"log10(t_hi/t_mid) per decade of rows","worst_query":"$wProd",""" +
      s""""worst_production":{"query":"$wProd","slope_mid_hi":${r3(wProdSlope)}},""" +
      s""""worst_diagnostic":{"query":"$wDiag","slope_mid_hi":${r3(wDiagSlope)},""" +
      s""""note":"deliberately-pinned fixed-nCells quantizer — the measured-quadratic regime the default (corpus-sized) path avoids"},""" +
      s""""sf_dirs":${dirs.map(d => s""""$d"""").mkString("[", ",", "]")},""" +
      s""""cpu_anchor_ms":${r3(anchorMs)},""" +
      s""""synthetic_hi":true,"xhi_replicas":26,"queries":{${entries.mkString(",")}},""" +
      s""""attribution":$attributionJson}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Path.of("BENCH_SCALE_r22.json"), line + "\n")
    catch { case e: Exception => System.err.println(s"[bench-scale2] write failed: $e") }
    println(line)
    spark.stop()
  }
}
