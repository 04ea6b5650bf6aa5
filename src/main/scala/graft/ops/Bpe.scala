package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.{bpeExprs, BpeModel, BpeUtil}

/** Distributed BPE tokenizer training (Sennrich et al. 2016: neural
  * machine translation of rare words with subword units) — the
  * tokenizer-training op of an LLM data pipeline, Spark-first:
  *
  *   1. ONE distributed aggregation builds the word-frequency
  *      dictionary (the only pass over the corpus — at 100 TB this is
  *      the whole cost, and it is a plain groupBy shuffle).
  *   2. The merge loop runs on the DRIVER over the top-`maxWords`
  *      dictionary with incremental pair-count updates (only words
  *      containing the merged pair are touched). This is how every
  *      production BPE trainer works — the dictionary is Zipf-bounded
  *      (top 1M words cover ~all occurrences of any natural corpus),
  *      so the driver state is capped by contract, not by luck.
  *   3. Encoding is a broadcast model + the native codegen'd
  *      [[graft.functions.BpeTokens]]/[[graft.functions.BpeIds]]
  *      expressions — stateless, streams unchanged, bounded per-thread
  *      word caches on the executors (ids: a UTF-8 byte scan into a
  *      word → ids cache, emitted as a primitive int array).
  *
  * Determinism contract: merge selection is max pair count with ties
  * broken by the lexicographically smallest (left, right) pair, and
  * the dictionary cut is (count desc, word asc) — the same corpus
  * always learns the same merges, on any cluster layout.
  */
object Bpe {

  /** The word-frequency dictionary cut: top `maxWords` by
    * (count desc, word asc). One shuffle + a TakeOrdered. */
  def wordCounts(df: DataFrame, textCol: String, maxWords: Int): Seq[(String, Long)] = {
    require(maxWords > 0 && maxWords <= 2000000,
      s"Bpe: maxWords must be in (0, 2e6] (driver-held dictionary), got $maxWords")
    df.select(col(textCol).cast("string").as("__t__"))
      .filter(col("__t__").isNotNull)
      .select(explode(split(trim(col("__t__")), "[ \t\n\u000B\f\r]+")).as("__w__"))
      .filter(length(col("__w__")) > 0)
      .groupBy("__w__").agg(count(lit(1)).as("__n__"))
      .orderBy(col("__n__").desc, col("__w__").asc)
      .limit(maxWords)
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
  }

  /** The driver-side merge loop, exposed for direct testing: learns up
    * to `numMerges` merges over a (word, count) dictionary.
    * Incremental algorithm — pair counts are delta-updated from only
    * the words containing the merged pair. */
  def trainFromWordCounts(
      counts: Seq[(String, Long)], numMerges: Int,
      minPairCount: Long = 2L): BpeModel =
    continueFromWordCounts(BpeModel(Array.empty), counts, numMerges, minPairCount)

  /** Apply a model's merges to one word IN TRAINING ORDER (merge 0
    * everywhere, then merge 1, ...) — reproduces the training-time
    * symbol state by construction, which is what model CONTINUATION
    * must resume from. (The greedy encoder converges to the same state
    * for models whose ranks are creation-monotone — every trained
    * model in practice — but continuation must not depend on that.) */
  private def applyMergesInOrder(word: String, m: BpeModel): Array[String] = {
    var syms = BpeUtil.initialSymbols(word)
    var r = 0
    while (r < m.merges.length) {
      val (l, rr) = m.merges(r)
      var contains = false
      var i = 0
      while (!contains && i < syms.length - 1) {
        contains = syms(i) == l && syms(i + 1) == rr; i += 1
      }
      if (contains) {
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == rr) {
            out += l + rr; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
      r += 1
    }
    syms
  }

  /** CONTINUE training an existing model over a (word, count)
    * dictionary: the dictionary is first brought to the model's
    * training-time symbol state (merges applied in training order),
    * then the merge loop learns up to `extraMerges` more. On the same
    * dictionary, `continue(train(c, n), c, k) == train(c, n+k)`
    * unconditionally (BpeSpec pins it); on a NEW corpus this is
    * domain-adaptation vocabulary growth without retraining from
    * scratch. The returned model carries old merges ++ new merges. */
  def continueFromWordCounts(
      model: BpeModel, counts: Seq[(String, Long)], extraMerges: Int,
      minPairCount: Long = 2L): BpeModel = {
    require(!model.byteLevel,
      "continueFromWordCounts: byte-level models use the published " +
        "regex pre-tokenization and byte symbolization, not this " +
        "word-level dictionary — retrain/extend them in the system " +
        "that published the files")
    val numMerges = extraMerges
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    // the model's base-symbol ALPHABET (vocab derivation input): union
    // of the existing model's alphabet and this dictionary's initial
    // symbols, sorted — so continuation GROWS the vocabulary and
    // train(c, n) == continue(train(c, k), c, n-k) holds for the
    // alphabet too (same corpus -> same symbol set)
    val alphaSet = new scala.collection.mutable.HashSet[String]()
    model.alphabet.foreach(alphaSet += _)
    counts.foreach(c => BpeUtil.initialSymbols(c._1).foreach(alphaSet += _))
    val alphabet = alphaSet.toArray.sorted
    val words: Array[Array[String]] =
      counts.map(c => applyMergesInOrder(c._1, model)).toArray
    val wordCount: Array[Long] = counts.map(_._2).toArray

    val pairCounts = new java.util.HashMap[(String, String), Long]()
    // lazy inverted index: pair -> word indices that contained it at
    // SOME point (stale entries re-checked at merge time)
    val pairWords = new java.util.HashMap[(String, String), java.util.HashSet[Integer]]()
    def addPair(p: (String, String), wi: Int, c: Long): Unit = {
      pairCounts.merge(p, c, (a, b) => a + b)
      pairWords.computeIfAbsent(p, _ => new java.util.HashSet[Integer]()).add(wi)
    }
    def dropPair(p: (String, String), c: Long): Unit = {
      val left = pairCounts.merge(p, -c, (a, b) => a + b)
      if (left <= 0) { pairCounts.remove(p); pairWords.remove(p) }
    }
    var wi = 0
    while (wi < words.length) {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) { addPair((s(i), s(i + 1)), wi, wordCount(wi)); i += 1 }
      wi += 1
    }

    // Merge SELECTION is a lazy-deletion max-heap over (count, pair),
    // not a scan: a production tokenizer is ~50k merges over a ≤2M-word
    // dictionary (~10^7 live pairs), and an O(pair-table) scan per
    // merge is ~10^11-10^12 comparisons in the driver loop — the same
    // latent-quadratic class as the r13 chunk fold. Protocol: seed one
    // entry per distinct pair; every count INCREASE pushes the new
    // cumulative value (so some entry is always >= the live count);
    // decreases leave stale overestimates that pop-validation catches
    // (live != entry -> re-insert at the live rank; live 0 -> discard).
    // An entry that validates IS the global max: every other live pair
    // has an entry at or above its live count, which would have popped
    // first. Heap order encodes the determinism contract — max count,
    // ties -> lexicographically smallest pair (DEFINED determinism;
    // Sennrich leaves ties unspecified) — so the learned merges are
    // bit-identical to the scan's (BpeSpec + the heap-vs-scan spec pin
    // it).
    final class PairEntry(val a: String, val b: String, val c: Long)
    val heap = new java.util.PriorityQueue[PairEntry](
      math.max(16, pairCounts.size()),
      new java.util.Comparator[PairEntry] {
        def compare(x: PairEntry, y: PairEntry): Int = {
          if (x.c != y.c) java.lang.Long.compare(y.c, x.c)
          else {
            val r = x.a.compareTo(y.a)
            if (r != 0) r else x.b.compareTo(y.b)
          }
        }
      })
    locally {
      val it = pairCounts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        heap.add(new PairEntry(e.getKey._1, e.getKey._2, e.getValue))
      }
    }
    def addPairTracked(p: (String, String), wi: Int, c: Long): Unit = {
      addPair(p, wi, c)
      heap.add(new PairEntry(p._1, p._2, pairCounts.getOrDefault(p, 0L)))
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      var best: (String, String) = null
      var searching = true
      while (searching) {
        val e = heap.poll()
        if (e == null) searching = false
        else {
          val p = (e.a, e.b)
          val live = pairCounts.getOrDefault(p, 0L)
          if (live == e.c) {
            // valid top of heap = the global max live pair; below the
            // threshold means NO pair qualifies — stop
            if (live >= minPairCount) best = p
            searching = false
          } else if (live > 0L) heap.add(new PairEntry(e.a, e.b, live))
        }
      }
      if (best == null) done = true
      else {
        merges += best
        val merged = best._1 + best._2
        val affected = pairWords.get(best)
        if (affected != null) {
          val ws = affected.toArray(new Array[Integer](affected.size()))
            .map(_.intValue()).sorted // deterministic iteration, not that order matters
          ws.foreach { w =>
            val old = words(w)
            // stale index entry: the word may no longer contain the pair
            var contains = false
            var i = 0
            while (!contains && i < old.length - 1) {
              contains = old(i) == best._1 && old(i + 1) == best._2; i += 1
            }
            if (contains) {
              val c = wordCount(w)
              // delta out the old adjacencies, apply the merge, delta in
              i = 0
              while (i < old.length - 1) { dropPair((old(i), old(i + 1)), c); i += 1 }
              val out = new scala.collection.mutable.ArrayBuffer[String](old.length)
              i = 0
              while (i < old.length) {
                if (i < old.length - 1 && old(i) == best._1 && old(i + 1) == best._2) {
                  out += merged; i += 2
                } else { out += old(i); i += 1 }
              }
              val nw = out.toArray
              words(w) = nw
              i = 0
              while (i < nw.length - 1) { addPairTracked((nw(i), nw(i + 1)), w, c); i += 1 }
            }
          }
        }
        // the merged pair itself must be gone (all occurrences merged)
        pairCounts.remove(best)
        pairWords.remove(best)
      }
    }
    // An EXTERNAL-vocab model keeps its table on continuation, with
    // each genuinely new compound APPENDED (the published-tokenizer
    // "add tokens" convention: existing ids are frozen — a trained
    // checkpoint's embedding rows must keep meaning the same token —
    // and additions take the next ids in merge order). New BASE
    // symbols stay out-of-vocab (→ unk), exactly like the original
    // external table would treat them.
    if (model.externalVocab != null) {
      val have = new java.util.HashSet[String]()
      model.externalVocab.foreach(have.add)
      val appended = merges.map { case (l, r) => l + r }.filter(have.add).toArray
      BpeModel(model.merges ++ merges, alphabet,
        model.externalVocab ++ appended, model.externalPadId, model.externalUnkId)
    } else BpeModel(model.merges ++ merges, alphabet)
  }

  /** [[continueFromWordCounts]] over a text column: one dictionary
    * aggregation + the resumed driver merge loop. */
  def extendModel(
      model: BpeModel, df: DataFrame, textCol: String, extraMerges: Int,
      maxWords: Int = 1000000, minPairCount: Long = 2L): BpeModel =
    continueFromWordCounts(model, wordCounts(df, textCol, maxWords),
      extraMerges, minPairCount)

  /** Train on a text column: dictionary aggregation + driver merge
    * loop. The corpus is read ONCE. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 1000000, minPairCount: Long = 2L): BpeModel =
    trainFromWordCounts(wordCounts(df, textCol, maxWords), numMerges, minPairCount)

  /** Broadcast a model for the encode expression. */
  def broadcastModel(spark: SparkSession, m: BpeModel): Broadcast[BpeModel] =
    spark.sparkContext.broadcast(m)

  /** BPE tokens of `c` (array<string>, `</w>` markers kept) under a
    * broadcast model — native one-pass expression. */
  def tokens(c: Column, modelBc: Broadcast[BpeModel]): Column =
    bpeExprs.bpe_tokens(c, modelBc)

  /** Real-tokenizer token count (the budget unit a mixture/packing
    * step should use once a tokenizer exists): the size of [[ids]],
    * which are index-aligned with [[tokens]], so it equals
    * `size(tokens(c))` without building the token strings. */
  def tokenCount(c: Column, modelBc: Broadcast[BpeModel]): Column =
    size(ids(c, modelBc))

  /** BPE token IDS of `c` (array<int>) under the model's derived
    * vocabulary ([[graft.functions.BpeModel.vocab]]: pad 0, unk 1,
    * alphabet sorted, compounds in merge order) — index-aligned with
    * [[tokens]], unknown symbols → unk. This is the integer stream a
    * trainer's data loader reads; pack it with
    * [[graft.ops.Packing.packTokenIds]]. */
  def ids(c: Column, modelBc: Broadcast[BpeModel]): Column =
    bpeExprs.bpe_ids(c, modelBc)

  /** Adds the token-ID array of `textCol` as `outCol` — the encode
    * step of the text → ids → fixed-length-sequences pipeline. */
  def withTokenIds(df: DataFrame, textCol: String, outCol: String,
      modelBc: Broadcast[BpeModel]): DataFrame =
    df.withColumn(outCol, ids(col(textCol), modelBc))

  /** The model's vocabulary as a (id, token) DataFrame — the artifact
    * shipped next to packed shards so ids are decodable without the
    * model object. */
  def vocabTable(spark: SparkSession, m: BpeModel): DataFrame = {
    import spark.implicits._
    m.vocab.zipWithIndex.map { case (t, i) => (i, t) }.toSeq.toDF("id", "token")
  }

  /** Adds the REAL-tokenizer token count of `textCol` as `outCol` —
    * the budget-unit wiring for
    * [[graft.ops.Sampling.sampleByTokenBudget]],
    * [[graft.ops.Packing.assignShards]]/[[graft.ops.Packing.buildShards]]
    * and any other weight-column consumer: training mixtures and shard
    * budgets are specified in TOKENS, and the char/regex proxies drift
    * from the real count on non-English text.
    *
    * Scale note: the prefix-sum ops execute their input plan twice
    * (bucket-sum pass + output pass). `tokenCount` is deterministic,
    * so that is CORRECT — but at corpus scale encoding twice is wasted
    * work; `localCheckpoint` (or persist) the frame this returns
    * before feeding a budgeting op if the encode cost matters (the
    * measured gain is in [[graft.ops.Packing.packTokenIds]]' note:
    * smaller since the id kernel stopped decoding text, larger for a
    * costlier encoder). */
  def withTokenCount(df: DataFrame, textCol: String, outCol: String,
      modelBc: Broadcast[BpeModel]): DataFrame =
    df.withColumn(outCol, tokenCount(col(textCol), modelBc))

  /** Context-window chunking in REAL tokenizer tokens — the third
    * budget-unit consumer after [[graft.ops.Sampling.sampleByTokenBudget]]
    * and [[graft.ops.Packing]] ([[graft.ops.TextOps.chunkDocumentsByCost]]
    * with the model's per-word token count as the cost): greedy
    * word-fill to at most `maxTokens` BPE tokens per chunk, so chunk
    * sizes line up with what a context window actually holds instead
    * of a whitespace proxy. */
  def chunkByTokenCount(
      df: DataFrame, idCol: String, textCol: String, maxTokens: Int,
      modelBc: Broadcast[BpeModel]): DataFrame =
    graft.ops.TextOps.chunkDocumentsByCost(df, idCol, textCol, maxTokens,
      w => tokenCount(w, modelBc))

  /** Inverse of [[tokens]] (detokenize — the inspection/debug verb a
    * tokenized corpus needs): concatenate the token strings and split
    * on the end-of-word markers. Reconstructs the
    * whitespace-NORMALIZED text (single spaces — the whitespace run
    * class is not invertible past that). Pure Column arithmetic, no
    * shuffle. A word whose raw characters spell out the marker
    * re-splits there — inherent to any in-band marker scheme; corpora
    * where that matters should pre-escape the marker text. */
  /** Inverse of [[ids]] up to whitespace normalization and unknown
    * symbols — the inspection verb for a SHIPPED shard: each id maps
    * through the model's derived vocabulary (out-of-range/NULL → the
    * unk marker; PAD ids are dropped — they carry no text), symbols
    * concatenate, end-of-word markers become single spaces.
    * `decodeIds(col("input_ids"), bc)` over a packed row shows the
    * text a sequence actually trains on. Note an unknown symbol that
    * ENDED a word decodes without its end-of-word marker, so it fuses
    * with the next word — inherent to unk substitution, identical on
    * every engine replaying the symbol stream. Native codegen'd
    * expression, no shuffle. */
  def decodeIds(c: Column, modelBc: Broadcast[BpeModel]): Column =
    bpeExprs.bpe_decode_ids(c, modelBc)

  def decode(toks: Column): Column =
    array_join(
      filter(
        split(array_join(toks, ""),
          java.util.regex.Pattern.quote(graft.functions.BpeUtil.EndOfWord)),
        x => length(x) > 0),
      " ")

  /** One-table model persistence, LmScore-convention: (rank, left,
    * right), executor-side materialization. Merges at rank 0..n-1;
    * the alphabet rides the SAME table at rank -(i+1) with left = the
    * symbol and right NULL (so a model file is still one table and a
    * pre-alphabet file still loads — as an empty-alphabet model). */
  def saveModel(spark: SparkSession, m: BpeModel, path: String): Unit = {
    import spark.implicits._
    require(m.externalVocab == null,
      "saveModel persists derived-vocab models only (the parquet table " +
        "carries merges+alphabet and the vocab re-derives); an " +
        "external-vocab model's ids live in its vocab table — use " +
        "saveExternal, whose files round-trip through loadExternal")
    val merges = m.merges
    val alphabet = m.alphabet
    val rows: Seq[(Int, String, String)] =
      merges.indices.map(i => (i, merges(i)._1, merges(i)._2)) ++
        alphabet.indices.map(i => (-(i + 1), alphabet(i), null: String))
    spark.sparkContext.parallelize(rows, 1)
      .toDF("rank", "left", "right")
      .write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------- external tokenizers

  /** Reads a whole (small) model file through the Hadoop FileSystem
    * API — works for any supported scheme, and preserves LINE ORDER
    * (rank = line position), which a distributed text read would not
    * guarantee across splits. Model files are MB-scale; they live on
    * the driver anyway (the model is broadcast from there). */
  private def readUtf8(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeUtf8(spark: SparkSession, path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parses a `merges.txt`-format merge table (the subword-nmt /
    * published-tokenizer convention: one merge per line, `left right`,
    * rank = line order, optional leading `#version:` header line;
    * blank lines skipped). Word-level models mark word ends with the
    * `</w>` suffix on the right symbol — the same marker this engine
    * uses, so a published word-level BPE drops straight in. */
  def loadMergesTxt(spark: SparkSession, path: String): Array[(String, String)] = {
    val lines = readUtf8(spark, path).split("\n", -1)
    val body =
      if (lines.nonEmpty && lines(0).startsWith("#version")) lines.drop(1) else lines
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var ln = if (body eq lines) 0 else 1
    body.foreach { raw =>
      ln += 1
      val line = raw.stripSuffix("\r")
      if (line.nonEmpty) {
        val sp = line.indexOf(' ')
        require(sp > 0 && sp < line.length - 1 && line.indexOf(' ', sp + 1) < 0,
          s"loadMergesTxt($path): line $ln is not 'left right' " +
            s"(exactly one separating space): '$line'")
        out += ((line.substring(0, sp), line.substring(sp + 1)))
      }
    }
    out.toArray
  }

  /** Parses a vocabulary table into the id-indexed token array:
    * `vocab.json` (one JSON object, token → id — the published-
    * tokenizer convention) or TSV (`token<TAB>id` lines) — detected by
    * the first non-whitespace character. Ids must be dense 0..n-1 and
    * tokens distinct (the table IS the id assignment). */
  def loadVocab(spark: SparkSession, path: String): Array[String] = {
    val text = readUtf8(spark, path)
    val entries: Seq[(String, Int)] =
      if (text.dropWhile(_.isWhitespace).startsWith("{")) {
        // Jackson ships with Spark — the same parser its JSON reader uses
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
        require(root.isObject, s"loadVocab($path): not a JSON object")
        val it = root.fields()
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
        while (it.hasNext) {
          val e = it.next()
          require(e.getValue.canConvertToInt && e.getValue.isIntegralNumber,
            s"loadVocab($path): id of '${e.getKey}' is not an integer")
          buf += ((e.getKey, e.getValue.intValue()))
        }
        buf.toSeq
      } else {
        text.split("\n", -1).toSeq.map(_.stripSuffix("\r")).filter(_.nonEmpty)
          .zipWithIndex.map { case (line, i) =>
            val tab = line.lastIndexOf('\t')
            require(tab > 0, s"loadVocab($path): line ${i + 1} is not 'token<TAB>id'")
            val id = scala.util.Try(line.substring(tab + 1).toInt).getOrElse(
              throw new IllegalArgumentException(
                s"loadVocab($path): line ${i + 1} id is not an integer"))
            (line.substring(0, tab), id)
          }
      }
    require(entries.nonEmpty, s"loadVocab($path): empty vocabulary")
    val n = entries.length
    val arr = new Array[String](n)
    entries.foreach { case (tok, id) =>
      require(id >= 0 && id < n,
        s"loadVocab($path): id $id out of the dense range [0, $n) — " +
          "ids must be dense 0..n-1")
      require(arr(id) == null,
        s"loadVocab($path): duplicate id $id ('${arr(id)}' and '$tok')")
      arr(id) = tok
    }
    require(entries.map(_._1).distinct.length == n,
      s"loadVocab($path): duplicate tokens — the table is an id assignment")
    arr
  }

  /** Loads an EXTERNAL tokenizer — the merges/vocab file pair a real
    * training run publishes (plain public formats: subword-nmt
    * word-level `merges.txt` + `vocab.json` or TSV) — as a
    * [[graft.functions.BpeModel]] whose ids FOLLOW THE EXTERNAL TABLE,
    * so [[withTokenCount]]/[[withTokenIds]]/
    * [[graft.ops.Packing.packTokenIds]]/[[decodeIds]] run under the
    * tokenizer the trainer actually uses. `unkToken` must be in the
    * vocab (unseen symbols need an id); `padToken` may be absent
    * (padId -1 — decode then drops nothing). Every merge's compound
    * symbol must be in the vocab — a missing one means the two files
    * are not from the same tokenizer, the loudest failure available.
    * Byte-level (GPT-2 `Ġ`-prefix) tables are NOT this format — this
    * loader is for word-level models using `</w>` end markers. */
  def loadExternal(
      spark: SparkSession, mergesPath: String, vocabPath: String,
      unkToken: String = graft.functions.BpeModel.UnkToken,
      padToken: String = graft.functions.BpeModel.PadToken): BpeModel = {
    val merges = loadMergesTxt(spark, mergesPath)
    val vocab = loadVocab(spark, vocabPath)
    val ids = vocab.zipWithIndex.toMap
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(ids.contains(l + r),
        s"loadExternal: merge ${i + 1} compound '${l + r}' is not in the " +
          s"vocab — $mergesPath and $vocabPath are not the same tokenizer")
    }
    val unkId = ids.getOrElse(unkToken,
      throw new IllegalArgumentException(
        s"loadExternal: unk token '$unkToken' not in the vocab — " +
          "unseen symbols need an id"))
    val padId = ids.getOrElse(padToken, -1)
    BpeModel(merges, Array.empty, vocab, padId, unkId)
  }

  /** Loads an external BYTE-LEVEL tokenizer (the GPT-2-family
    * published convention: merges/vocab over the standard
    * bytes→printable-chars table, spaces as `Ġ` prefixes, regex
    * pre-tokenization, NO end-of-word marker —
    * [[graft.functions.BpeByteLevel]]). Encode→decode is LOSSLESS.
    * The vocab must contain all 256 single-byte chars (so encoding
    * never needs an unk — published byte-level vocabs have none;
    * `unkToken`/`padToken` are OPTIONAL and resolve to -1 when absent
    * or null). Merge compounds are cross-validated against the vocab
    * like [[loadExternal]]. */
  def loadExternalByteLevel(
      spark: SparkSession, mergesPath: String, vocabPath: String,
      unkToken: String = null, padToken: String = null): BpeModel = {
    val merges = loadMergesTxt(spark, mergesPath)
    val vocab = loadVocab(spark, vocabPath)
    val ids = vocab.zipWithIndex.toMap
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(ids.contains(l + r),
        s"loadExternalByteLevel: merge ${i + 1} compound '${l + r}' is not " +
          s"in the vocab — $mergesPath and $vocabPath are not the same tokenizer")
    }
    val missing = (0 until 256).filterNot(b =>
      ids.contains(String.valueOf(graft.functions.BpeByteLevel.byteToChar(b))))
    require(missing.isEmpty,
      s"loadExternalByteLevel: the vocab is missing the byte chars for " +
        s"bytes ${missing.take(8).mkString(", ")}${if (missing.length > 8) ", ..." else ""} — " +
        "a byte-level vocab must cover all 256 single-byte symbols")
    val unkId = Option(unkToken).flatMap(ids.get).getOrElse(-1)
    val padId = Option(padToken).flatMap(ids.get).getOrElse(-1)
    BpeModel(merges, Array.empty, vocab, padId, unkId, byteLevel = true)
  }

  /** Writes `m` as the public merges/vocab file pair [[loadExternal]]
    * reads — the EXPORT verb: a model trained here ships to any
    * system reading the published format, and
    * `loadExternal(saveExternal(m))` encodes bit-identically (the
    * vocab file states m's ids verbatim, derived or external). */
  def saveExternal(
      spark: SparkSession, m: BpeModel,
      mergesPath: String, vocabPath: String): Unit = {
    writeUtf8(spark, mergesPath,
      "#version: 0.2\n" + m.merges.map { case (l, r) => s"$l $r" }.mkString("\n") +
        (if (m.merges.nonEmpty) "\n" else ""))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    m.vocab.zipWithIndex.foreach { case (t, i) => node.put(t, i) }
    writeUtf8(spark, vocabPath, node.toString)
  }

  def loadModel(spark: SparkSession, path: String): BpeModel = {
    val all = spark.read.parquet(path)
      .select("rank", "left", "right")
      .collect()
    val rows = all.filter(_.getInt(0) >= 0).sortBy(_.getInt(0))
    val merges = rows.map(r => (r.getString(1), r.getString(2)))
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"Bpe.loadModel: rank column is not dense at $i (got ${r.getInt(0)}) — " +
          "not a saveModel table")
    }
    val arows = all.filter(_.getInt(0) < 0).sortBy(-_.getInt(0))
    arows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == -(i + 1),
        s"Bpe.loadModel: alphabet rank is not dense at ${-(i + 1)} " +
          s"(got ${r.getInt(0)}) — not a saveModel table")
    }
    BpeModel(merges, arows.map(_.getString(1)))
  }
}
