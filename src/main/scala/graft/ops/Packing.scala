package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import org.apache.spark.sql.{Column, DataFrame}

/** Sequence packing for training shards: documents are conceptually
  * concatenated in `orderCol` order and chunked every `budget` tokens;
  * each document is assigned the shard its first token lands in
  * (concat-and-chunk packing). The primitive underneath is an EXACT
  * global running total — the textbook formulation
  * (`sum over (ORDER BY orderCol)`) plans as ONE partition holding the
  * entire corpus, the classic global-window bottleneck.
  *
  * Scale shape instead: order-aligned buckets (`orderCol div
  * bucketWidth`) and the [[graft.plans.PrefixSum]] operator — per-bucket
  * sums in one pass over the bucket-partitioned rows, offsets folded on
  * the driver (one bounded row per bucket), running totals in a second
  * pass over the same partitions (many small ordered cells in parallel,
  * never one global partition). Deterministic and bit-exact vs the
  * naive window for integral weights. [[packTokenIds]] cuts its
  * fixed-length sequences in that second pass too, so its token ids
  * cross one exchange and are never regrouped.
  */
object Packing {

  /** The shared exclusive prefix sum behind [[globalCumsum]] (no
    * partitions) and the [[graft.ops.Sampling]] callers (one running
    * total per stratum): rows are bucketed by a prefix of their order
    * key and handed to [[graft.plans.PrefixSum]] with cells
    * (partitionCols, bucket). The input runs once, inside the action.
    *
    * `bucket` must order consistently with `orderCols` (a bucket holds
    * an order-contiguous range). Partition, bucket and order keys must
    * be NON-NULL and the order key UNIQUE — with `requireUniqueOrder =
    * false` (the Sampling callers) tied keys are tolerated only as
    * copies of one weight: duplicate keys there are SELF-ties (the order
    * cols are (hash(key), key)), and the hostile-inputs contract is
    * "tolerate, don't throw", but tied rows with DIFFERING weights make
    * the budget/priority cut rerun-unstable (the arbitrary tie order
    * decides which weight crosses the budget), so that case still
    * raises. Copies that differ only in non-weight payload get their
    * two positions in arbitrary per-copy assignment — callers that care
    * must make the key unique (the documented composite-key rule). The
    * layout paths (globalCumsum/packTokenIds/shards) stay strict: their
    * tie order IS the output. Every check fails loudly when the action
    * runs; none can be pruned away with `cum_before`. */
  private[ops] def bucketedCumsum(
      df: DataFrame, partitionCols: Seq[String], bucket: Column,
      orderCols: Seq[Column], weight: Column, what: String,
      requireUniqueOrder: Boolean = true): DataFrame = {
    Seq("__b__", "cum_before").foreach(c =>
      require(!df.columns.contains(c), s"input already has a column named $c"))
    graft.plans.PrefixSum.add(df.withColumn("__b__", bucket),
      partitionCols.map(col) :+ col("__b__"), orderCols, weight, what,
      requireUniqueOrder)
      .drop("__b__")
  }

  /** Exact long floor-division bucket: `floorDiv(key, width)` without
    * the double rounding of `floor(col / width)` (a key above 2^53
    * would bucket a few keys off the true boundary — benign for the
    * cumsum itself, which only needs bucket to be a non-decreasing
    * function of the key, but FATAL for [[packWholeDocs]]' seq_id
    * arithmetic, which needs every bucket to span at most
    * bucketWidth keys). pmod is non-negative, so the subtraction
    * lands exactly on a multiple of the width and the integral `div`
    * is exact at every magnitude (the assignShards discipline). */
  private def floorDivBucket(orderCol: String, bucketWidth: Long): Column =
    expr(s"(cast($orderCol AS BIGINT) - pmod(cast($orderCol AS BIGINT), " +
      s"$bucketWidth)) div $bucketWidth")

  /** Adds `cum_before` = sum of `weightCol` over all rows strictly
    * before this one in `orderCol` order (exclusive prefix sum).
    * `orderCol` must be integral, UNIQUE, and NON-NULL — both checked
    * loudly (a null key has no position; duplicate keys make the tie
    * order arbitrary, so the result would not be rerun-stable; the
    * uniqueness check rides the prefix sum's existing sort, not an
    * extra scan, and raises at execution time); NULL weights count as 0
    * (matching SQL SUM's null-skipping); weights should be
    * non-negative (shard assignment uses truncating division).
    *
    * Lazy: building the frame runs nothing. The action runs the input
    * once, through one exchange on the `bucketWidth`-wide order-key
    * buckets, and [[graft.plans.PrefixSum]] reads that exchange's
    * output twice (bucket sums, then running totals). */
  def globalCumsum(
      df: DataFrame, orderCol: String, weightCol: String,
      bucketWidth: Long = 100000): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    bucketedCumsum(df, Seq.empty,
      floorDivBucket(orderCol, bucketWidth),
      Seq(col(orderCol)),
      coalesce(col(weightCol).cast("long"), lit(0L)),
      s"globalCumsum($orderCol)")
  }

  /** Adds `shard_id` = `budget`-token chunk index of the document's
    * first token under concat-and-chunk packing in `orderCol` order.
    * For budgets in REAL tokenizer tokens, weight with
    * [[graft.ops.Bpe.withTokenCount]]. */
  def assignShards(
      df: DataFrame, orderCol: String, weightCol: String,
      budget: Long, bucketWidth: Long = 100000): DataFrame = {
    require(budget > 0, "budget must be positive")
    // integral `div`, not floor(double /): exact at every magnitude
    // (a >2^53 cumulative token total would round a double across a
    // budget boundary)
    globalCumsum(df, orderCol, weightCol, bucketWidth)
      .withColumn("shard_id", expr(s"cum_before div $budget"))
  }

  /** Materializes the packed shards [[assignShards]] implies: one row
    * per shard with the member documents' `textCol` concatenated in
    * `orderCol` order separated by `sep` (an EOS sentinel in a real
    * pretraining flow), plus the member count and token total —
    * the write-ready form of a packed pretraining shard.
    *
    * Scale shape: one groupBy(shard_id) hash aggregate; the
    * within-shard rebuild is array_sort(collect_list(struct(order,
    * text))) over arrays that are BUDGET-bounded by construction
    * (a shard holds ~`budget` tokens of text), so no window sort and
    * no unbounded per-group state. NULL texts are skipped by
    * concat_ws but still count toward n_docs (and weight 0 toward
    * n_tokens) — filter them upstream if shards must be NULL-free. */
  def buildShards(
      df: DataFrame, orderCol: String, textCol: String, weightCol: String,
      budget: Long, sep: String = "\n", bucketWidth: Long = 100000): DataFrame =
    assignShards(df, orderCol, weightCol, budget, bucketWidth)
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col(weightCol).cast("long"), lit(0L))).as("n_tokens"),
        concat_ws(sep,
          transform(array_sort(collect_list(struct(col(orderCol), col(textCol)))),
            s => s.getField(textCol))).as("shard_text"))

  /** [[buildShards]] plus the per-shard BOUNDARY TABLE packed training
    * actually needs: `doc_offsets(i)` = sum of the weights of documents
    * 0..i-1 in shard order — the token offset at which the shard's
    * i-th document starts, i.e. the block-diagonal attention-mask /
    * position-id-reset boundaries for the packed sequence (offsets
    * count WEIGHT units only; a separator-token cost, if any, belongs
    * in the upstream weights). Same single hash aggregate as
    * [[buildShards]]; the offsets are one native O(members) scan
    * ([[graft.functions.ExclusivePrefixSums]]) over the already-sorted
    * member weights — no extra shuffle, no window, and no
    * array-append fold accumulator (which would re-copy per member:
    * quadratic when a shard holds many zero-weight docs). */
  def buildShardsWithBoundaries(
      df: DataFrame, orderCol: String, textCol: String, weightCol: String,
      budget: Long, sep: String = "\n", bucketWidth: Long = 100000): DataFrame = {
    // internal-name collision guard (the bucketedCumsum discipline): an
    // input already carrying one of these would be silently overwritten
    Seq("__wl__", "__m__").foreach(c =>
      require(!df.columns.contains(c), s"input already has a column named $c"))
    assignShards(df, orderCol, weightCol, budget, bucketWidth)
      .withColumn("__wl__", coalesce(col(weightCol).cast("long"), lit(0L)))
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__wl__")).as("n_tokens"),
        array_sort(collect_list(struct(col(orderCol), col(textCol).as("__t__"),
          col("__wl__")))).as("__m__"))
      .select(col("shard_id"), col("n_docs"), col("n_tokens"),
        concat_ws(sep, transform(col("__m__"), s => s.getField("__t__")))
          .as("shard_text"),
        graft.functions.chunkExprs.exclusive_prefix_sums(
          transform(col("__m__"), d => d.getField("__wl__")))
          .as("doc_offsets"))
  }

  /** FIXED-LENGTH packed training sequences — the tensor a data
    * loader actually reads: documents' token-ID arrays (`idsCol`,
    * `array<int>`, e.g. [[graft.ops.Bpe.withTokenIds]]) are
    * conceptually concatenated in `orderCol` order and cut every
    * `seqLen` ids (GPT-style concat-and-chunk, documents SPLIT across
    * sequence boundaries — nothing is wasted); only the final
    * sequence is padded, with `padId`, to exactly `seqLen`. Returns
    * one row per sequence:
    *   - `seq_id`        — 0-based sequence index in corpus order
    *   - `input_ids`     — `array<int>`, length exactly `seqLen`
    *   - `doc_offsets`   — within-sequence start position of every
    *     document PIECE in the sequence (first element always 0) —
    *     the block-diagonal attention-mask / position-reset
    *     boundaries, the same offsets-in-weight-units convention as
    *     [[buildShardsWithBoundaries]] (a piece continuing from the
    *     previous sequence is a boundary too: attention cannot cross
    *     a sequence edge)
    *   - `n_docs`        — number of pieces (= size of doc_offsets)
    *   - `n_pad`         — trailing pad count (0 except the last
    *     sequence)
    * Documents with NULL or empty ids contribute nothing (a
    * zero-token document has no place in a token tensor — filter or
    * default upstream if that matters). Ids are cast to `array<int>`;
    * a NULL element inside an ids array fails loudly.
    *
    * `sepId` (optional) is the EOS/document-separator id: appended
    * after each non-empty document's ids BEFORE the cut — real
    * pretraining inserts an EOS between documents so the model learns
    * document ends ([[buildShards]]' text-`sep` semantics mirrored in
    * id space). The separator belongs to its document (it ends it):
    * boundary offsets are unchanged in meaning, every position shifts
    * by +1 per preceding document, and a causal label AT a separator
    * position is always the ignore id (the next position is a doc
    * boundary, a pad, or a sequence edge). Empty/NULL-ids documents
    * get no separator — they contribute nothing, as stated above.
    *
    * `orderCol` inherits [[globalCumsum]]'s full contract: integral,
    * NON-NULL, and UNIQUE — duplicate order keys would make the
    * within-bucket tie order arbitrary, so the packed layout would not
    * be rerun-stable. BOTH are checked loudly, in the prefix sum's own
    * pass over its sorted cells (zero extra scan or shuffle, raising
    * from the executors at execution time); use a row id that is a
    * key, as every gate does with doc_id, or a composite key when the
    * corpus is oversampled (q_pack_epochs' doc_id·K+copy pattern).
    * The op is lazy and its input runs ONCE, inside the action: an
    * expensive `idsCol` encoder needs no persist.
    *
    * Scale shape: the cut happens inside [[graft.plans.PrefixSum]]'s
    * cut mode, over `bucketWidth`-wide order-key buckets (never one
    * global window), with ONE exchange: the documents' order keys and
    * ids, hash-partitioned by bucket. The summing job reads that
    * exchange unsorted and returns, per bucket, its id count and its
    * first `seqLen - 1` ids; the driver folds the bucket offsets and
    * hands each bucket the ids that finish its last sequence (from the
    * heads of the buckets after it — at most `seqLen - 1` ids per
    * bucket, bounded by [[graft.plans.PrefixSum.MaxCutIds]]: widen
    * `bucketWidth` past it). The output pass then walks each bucket's
    * sorted documents and emits every sequence that starts in it as a
    * finished row, holding one sequence at a time. Sequences never
    * regroup: no per-piece rows, no second shuffle, no aggregate. */
  def packTokenIds(
      df: DataFrame, orderCol: String, idsCol: String,
      seqLen: Int, padId: Int = 0, bucketWidth: Long = 100000,
      sepId: Option[Int] = None): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(bucketWidth > 0, "bucketWidth must be positive")
    Seq("__w__", "__b__").foreach(c =>
      require(!df.columns.contains(c), s"input already has a column named $c"))
    val ids = df.schema(idsCol).dataType match {
      case ArrayType(IntegerType, _) => col(idsCol)
      case _ => col(idsCol).cast("array<int>")
    }
    val sep = if (sepId.isDefined) 1 else 0
    val docs = df
      .select(col(orderCol), ids.as(idsCol),
        coalesce(when(size(ids) > 0, size(ids) + sep), lit(0)).cast("long").as("__w__"),
        floorDivBucket(orderCol, bucketWidth).as("__b__"))
      .filter(col("__w__") > 0)
    graft.plans.PrefixSum.cut(docs, col("__b__"), Seq(col(orderCol)), col(idsCol),
      col("__w__"), graft.plans.SequenceCut(seqLen, padId, sepId),
      s"packTokenIds($orderCol)")
  }

  /** Greedy NEXT-FIT whole-document packing — the SFT-data shape: a
    * document is NEVER split across sequences (no cross-document
    * attention contamination, no piece arithmetic). Documents walk in
    * `orderCol` order; one that does not fit in the current sequence's
    * remainder starts the next sequence. A doc LONGER than seqLen
    * cannot be packed whole and fails loudly (filter oversized docs
    * upstream, or use [[packTokenIds]] — the splitting packer).
    * Empty / NULL id lists contribute nothing; `orderCol` inherits the
    * integral / NON-NULL / UNIQUE contract (checked in the fold).
    *
    * Scale shape: next-fit is a SEQUENTIAL fold — each placement
    * depends on the running fill — so it cannot distribute exactly.
    * The distributed form restarts the fold at every
    * `bucketWidth`-wide order-key range: buckets pack independently
    * (hash-partitioned by bucket, sorted within partitions, one
    * streaming pass — per-task state is ONE sequence buffer), costing
    * at most one extra partly-padded sequence per bucket — bounded,
    * rerun-stable, no cross-bucket carry to serialize on.
    * `seq_id = bucket·bucketWidth + index-within-bucket` (unique and
    * monotone in pack order since a bucket spans at most bucketWidth
    * keys; NOT dense across buckets).
    *
    * Output: `seq_id`, `input_ids` (padded to seqLen), `doc_ids` (the
    * packed documents' order keys, in order), `doc_offsets` (each
    * document's first-token position — [[withCausalLabels]] consumes
    * them unchanged), `n_docs`, `n_pad`. */
  def packWholeDocs(
      df: DataFrame, orderCol: String, idsCol: String,
      seqLen: Int, padId: Int = 0, bucketWidth: Long = 100000): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    Seq("__b__", "__k__", "__ids__").foreach(c =>
      require(!df.columns.contains(c), s"input already has a column named $c"))
    val what = s"packWholeDocs($orderCol)"
    val prepared = df
      .select(
        floorDivBucket(orderCol, bucketWidth).as("__b__"),
        col(orderCol).cast("long").as("__k__"),
        col(idsCol).cast("array<int>").as("__ids__"))
      .filter(size(col("__ids__")) > 0)
      .repartition(col("__b__"))
      .sortWithinPartitions("__b__", "__k__")
    val sl = seqLen
    val pad = padId
    val bw = bucketWidth
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("seq_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("input_ids",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType), nullable = false),
      org.apache.spark.sql.types.StructField("doc_ids",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType), nullable = false),
      org.apache.spark.sql.types.StructField("doc_offsets",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType), nullable = false),
      org.apache.spark.sql.types.StructField("n_docs",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_pad",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val out = prepared.mapPartitions { it =>
      var started = false
      var seqBucket = 0L
      var local = 0L
      var fill = 0
      var prevKey = 0L
      val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
      val docIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
      def flush(): org.apache.spark.sql.Row = {
        val nPad = sl - fill
        val row = org.apache.spark.sql.Row(
          seqBucket * bw + local,
          (ids.toSeq ++ Seq.fill(nPad)(pad)),
          docIds.toSeq, offs.toSeq, docIds.length, nPad)
        ids.clear(); docIds.clear(); offs.clear(); fill = 0
        row
      }
      val main = it.flatMap { r =>
        if (r.isNullAt(1))
          throw new IllegalArgumentException(
            s"$what: NULL order key — order keys must be NON-NULL " +
              "(a null key has no position in the running order)")
        val b = r.getLong(0)
        val k = r.getLong(1)
        val doc = r.getSeq[Any](2)
        if (doc.contains(null))
          throw new IllegalArgumentException(
            s"$what: ids list for key $k contains NULL elements")
        val w = doc.length
        if (w > sl)
          throw new IllegalArgumentException(
            s"$what: document $k has $w tokens > seqLen=$sl and cannot " +
              "be packed whole — filter oversized docs upstream or use " +
              "packTokenIds (the splitting packer)")
        if (started && k == prevKey)
          throw new IllegalArgumentException(
            s"$what: duplicate order key $k — the running order must be " +
              "a total order, so the order key must be UNIQUE")
        val flushed: Option[org.apache.spark.sql.Row] =
          if (started && (b != seqBucket || fill + w > sl)) {
            val f = flush()
            if (b != seqBucket) { seqBucket = b; local = 0L }
            else local += 1L
            Some(f)
          } else {
            if (!started) { started = true; seqBucket = b; local = 0L }
            None
          }
        offs += fill
        docIds += k
        ids ++= doc.iterator.map(_.asInstanceOf[Int])
        fill += w
        prevKey = k
        flushed.iterator
      }
      val tail = new scala.collection.AbstractIterator[org.apache.spark.sql.Row] {
        private var done = false
        def hasNext: Boolean = !done && started
        def next(): org.apache.spark.sql.Row = { done = true; flush() }
      }
      main ++ tail
    }(org.apache.spark.sql.Encoders.row(outSchema))
    out
  }

  /** Causal-LM `labels` for [[packTokenIds]] output — the last column
    * of the standard training-example shape: label(i) =
    * input_ids(i+1) (next-token prediction), with `ignoreId` wherever
    * the next position must NOT be predicted — past the real tokens
    * (pads and the sequence end) and across a document boundary
    * (position i+1 in `doc_offsets`: the next token starts a
    * different document piece, and predicting across the attention
    * reset would leak). One native O(seqLen + pieces) pass per row
    * ([[graft.functions.CausalLabels]] — a per-position
    * `array_contains` over the offsets would be O(seqLen · pieces),
    * the same per-row hazard class as the r13 chunk fold), no
    * shuffle; -100 is the usual loss-ignore convention. */
  /** Launch-time AUDIT over [[packTokenIds]] output — the check a
    * training run makes before shipping a tensor set, as data (the
    * [[graft.ops.Sampling.mixtureAudit]] discipline): sequence count,
    * token capacity vs real tokens, pad accounting, piece (document
    * fragment) stats, and `pads_within_one_seq` — packTokenIds' pad
    * contract (pad exists ONLY in the final sequence) restated as a
    * column, so a drifted packer is visible in the audit table. ONE
    * aggregate, one row. */
  def packAudit(seqs: DataFrame): DataFrame =
    seqs.agg(
      count(lit(1)).as("n_seqs"),
      sum(size(col("input_ids")).cast("long")).as("capacity"),
      sum((size(col("input_ids")) - col("n_pad")).cast("long")).as("real_tokens"),
      sum(col("n_pad").cast("long")).as("pad_tokens"),
      max(col("n_pad")).as("max_pad"),
      sum(col("n_docs").cast("long")).as("n_pieces"),
      max(col("n_docs")).as("max_pieces"),
      (sum(when(col("n_pad") > 0, lit(1L)).otherwise(lit(0L))) <= 1L)
        .as("pads_within_one_seq"))
      .withColumn("pad_fraction",
        col("pad_tokens").cast("double") / col("capacity").cast("double"))

  def withCausalLabels(seqs: DataFrame, ignoreId: Int = -100): DataFrame = {
    require(!seqs.columns.contains("labels"),
      "input already has a column named labels")
    seqs.withColumn("labels",
      graft.functions.chunkExprs.causal_labels(
        col("input_ids"), col("doc_offsets"), col("n_pad"), ignoreId))
  }

  /** Deterministic SHUFFLE-AND-SHARD of a packed sequence set — the
    * file layout a data loader reads: training order must be a
    * reproducible random permutation (packing preserves corpus order,
    * which a model must not see), and the permuted set is cut into
    * `rowsPerShard`-row shard files. Adds to every row:
    *   - `rank`     — 0-based position in the shuffled order: ascending
    *     (md5-prefix of (`idCol`, salt), id) — the same engine-portable
    *     permutation family as [[Sampling.shuffleByHash]], total
    *     whenever `idCol` is unique (ties break on the id), rerun- and
    *     engine-stable, and a fresh independent permutation per salt
    *   - `shard_id` — `rank div rowsPerShard` (integral `div`, the
    *     [[assignShards]] exactness rule)
    *
    * Scale shape: the rank is an exclusive prefix COUNT through
    * [[bucketedCumsum]] — the hash prefix's own leading
    * `bucketHexDigits` digits are the bucket (a hex-string bucket
    * orders consistently with the full hash by construction), so the
    * permutation costs per-bucket sorts, never one global sort. 16^2 = 256 buckets at the default; raise
    * to 3-4 digits (4096/65536 buckets) for billion-sequence sets.
    * `idCol` must be non-null ([[bucketedCumsum]] fails loudly). A
    * writer partitions by `shard_id` and sorts by `rank` within each
    * file. */
  def assignShuffledShards(
      df: DataFrame, idCol: String, salt: String, rowsPerShard: Long,
      bucketHexDigits: Int = 2): DataFrame = {
    require(rowsPerShard > 0, s"rowsPerShard must be positive, got $rowsPerShard")
    require(bucketHexDigits >= 1 && bucketHexDigits <= 8,
      s"bucketHexDigits must be in [1, 8], got $bucketHexDigits")
    require(!df.columns.contains("__sh__"),
      "input already has a column named __sh__")
    val hashed = df.withColumn("__sh__", Sampling.hashPrefix(col(idCol), salt))
    bucketedCumsum(hashed, Seq.empty,
      substring(col("__sh__"), 1, bucketHexDigits),
      Seq(col("__sh__"), col(idCol)), lit(1L), "assignShuffledShards")
      .withColumn("rank", col("cum_before"))
      .withColumn("shard_id", expr(s"rank div $rowsPerShard"))
      .drop("__sh__", "cum_before")
  }
}
