package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding model: the ORDERED merge list learned by
  * [[graft.ops.Bpe.train]] (Sennrich et al. 2016). Symbols are Unicode
  * code points with a `</w>` end-of-word marker; rank = merge priority
  * (lower merges first). The ranks map and the per-thread word caches
  * are rebuilt lazily on each executor after broadcast.
  *
  * `alphabet` is the model's BASE symbol set (the distinct initial
  * symbols — code points + the end-of-word marker — of the training
  * dictionary), carried so the model defines a complete token
  * VOCABULARY without the corpus: see [[vocab]]. Models from before
  * the alphabet existed (or built by hand) may carry an empty one —
  * every symbol then encodes to [[BpeModel.UnkId]].
  *
  * `externalVocab` (non-null for models loaded from an external
  * merges/vocab file pair — [[graft.ops.Bpe.loadExternal]]): the
  * EXPLICIT token table, index = id, that OVERRIDES the derived
  * vocabulary so encoded ids match the tokenizer a real training run
  * uses, with `externalPadId`/`externalUnkId` naming its reserved
  * slots (pad may be absent: -1 = nothing dropped on decode). Derived
  * models leave it null and keep the documented pad-0/unk-1 scheme. */
case class BpeModel(
    merges: Array[(String, String)],
    alphabet: Array[String] = Array.empty,
    externalVocab: Array[String] = null,
    externalPadId: Int = -1,
    externalUnkId: Int = -1,
    byteLevel: Boolean = false) extends Serializable {

  /** The id that fills packed sequences; -1 = this vocabulary has no
    * pad slot (external vocabs may omit one). */
  def padId: Int = if (externalVocab != null) externalPadId else BpeModel.PadId

  /** The id every out-of-vocabulary symbol encodes to. */
  def unkId: Int = if (externalVocab != null) externalUnkId else BpeModel.UnkId

  /** Two-level pair->rank map: keyed (left, right) so pairs whose
    * symbols may contain ANY code point stay unambiguous (one
    * concatenated key collides when the separator appears inside a
    * symbol), and the hot encode loop looks up without allocating. */
  @transient lazy val ranks: java.util.HashMap[String, java.util.HashMap[String, Integer]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, Integer]](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      var inner = m.get(merges(i)._1)
      if (inner == null) {
        inner = new java.util.HashMap[String, Integer](4)
        m.put(merges(i)._1, inner)
      }
      // keep the LOWEST rank for a duplicate (left, right) pair: a
      // continued model ([[graft.ops.Bpe.continueFromWordCounts]]) can
      // re-learn a pair whose compound is recreatable via an alternate
      // split on the new corpus, and the greedy encoder must keep
      // honoring the ORIGINAL (lower) priority — put() would shadow it
      // with the later rank and diverge from the training-order state
      inner.putIfAbsent(merges(i)._2, i)
      i += 1
    }
    m
  }

  /** The model's token vocabulary, DERIVED (stated order, so an
    * external system can reproduce the ids from the model table
    * alone): id 0 = `<pad>`, id 1 = `<unk>`, then the alphabet in
    * ascending (String) order, then one compound symbol per merge in
    * MERGE order — first occurrence wins when a compound collides
    * (two merge paths can create the same string, and text that
    * literally spells the end-of-word marker can merge into it); the
    * duplicate simply never gets a second id. A symbol outside the
    * vocabulary encodes to [[BpeModel.UnkId]] — with a full alphabet
    * that means "code point unseen at training time", the standard
    * char-level-UNK convention. */
  @transient lazy val vocab: Array[String] =
    if (externalVocab != null) externalVocab
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](
        2 + alphabet.length + merges.length)
      val seen = new java.util.HashSet[String]()
      def add(s: String): Unit = if (seen.add(s)) out += s
      add(BpeModel.PadToken); add(BpeModel.UnkToken)
      alphabet.sorted.foreach(add)
      merges.foreach { case (l, r) => add(l + r) }
      out.toArray
    }

  /** symbol -> vocab id, for the hot encode loop. */
  @transient lazy val vocabIds: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) { m.put(vocab(i), i); i += 1 }
    m
  }

  /** Per-thread LRU cache of token STRINGS per word (or per mapped
    * byte-level chunk), for [[BpeUtil.tokens]] and the byte-level
    * paths: natural text is Zipfian, so most words repeat — cache the
    * encoded form per distinct word, at most [[BpeModel.CacheWords]]. */
  @transient lazy val cache: ThreadLocal[java.util.LinkedHashMap[String, Array[String]]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[String, Array[String]](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[String]]): Boolean =
          size() > BpeModel.CacheWords
      })

  /** Per-thread state of the word-level [[BpeUtil.tokenIds]]: its own
    * word → ids cache (it never fills [[cache]]) and the reused id
    * buffer. */
  @transient private[graft] lazy val idScratch: ThreadLocal[BpeIdScratch] =
    ThreadLocal.withInitial(() => new BpeIdScratch)
}

/** One thread's word-level id-encoding state: `words` maps a word's
  * UTF-8 bytes to its token ids, an LRU of at most
  * [[BpeModel.CacheWords]] entries like [[BpeModel.cache]]; `buf`
  * gathers a row's ids and is reused across rows while it stays at
  * most [[BpeModel.KeptIds]] long. */
private[graft] final class BpeIdScratch {
  val words: java.util.LinkedHashMap[UTF8String, Array[Int]] =
    new java.util.LinkedHashMap[UTF8String, Array[Int]](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[UTF8String, Array[Int]]): Boolean =
        size() > BpeModel.CacheWords
    }
  var buf: Array[Int] = new Array[Int](1024)
}

object BpeModel {
  /** Reserved vocab slots: the pad id fills fixed-length packed
    * sequences ([[graft.ops.Packing.packTokenIds]]); the unk id is
    * every symbol the vocabulary does not hold. */
  val PadId = 0
  val UnkId = 1
  val PadToken = "<pad>"
  val UnkToken = "<unk>"
  /** Words per thread in each encode cache. */
  val CacheWords = 10000
  /** The longest id buffer a thread keeps between rows (256 KB). */
  val KeptIds: Int = 1 << 16
}

/** BYTE-level BPE plumbing (the GPT-2-family published-tokenizer
  * convention, Radford et al. 2019): text → UTF-8 bytes → each byte
  * mapped to a printable Unicode char (the standard bytes_to_unicode
  * table, so merges/vocab files are plain text) → BPE merges over the
  * char sequences of regex pre-tokenized chunks (spaces ride as `Ġ`
  * prefixes; no end-of-word marker). Encode→decode is LOSSLESS — the
  * byte mapping is a bijection — which is the convention's selling
  * point over word-level's whitespace normalization. Models in this
  * convention LOAD from published files
  * ([[graft.ops.Bpe.loadExternalByteLevel]]); training here stays
  * word-level. */
object BpeByteLevel {

  /** The standard byte → printable-char table: printable ASCII and
    * Latin-1 ranges map to themselves; the other 68 bytes map to
    * 256+n in ascending byte order (so 0x20 → 'Ġ' U+0120, 0x0A → 'Ċ'
    * U+010A). Bijective by construction. */
  val byteToChar: Array[Char] = {
    val out = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if ((b >= 33 && b <= 126) || (b >= 161 && b <= 172) || (b >= 174 && b <= 255))
        out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    out
  }

  val charToByte: java.util.HashMap[Character, Integer] = {
    val m = new java.util.HashMap[Character, Integer](512)
    var b = 0
    while (b < 256) { m.put(byteToChar(b), b); b += 1 }
    m
  }

  /** The GPT-2 pre-tokenizer pattern, faithfully (contraction arms,
    * ` ?` prefixes that glue ONE leading space to the next word, the
    * lookahead whitespace arm). UNICODE_CHARACTER_CLASS so \s/\p{L}
    * match what the published tokenizers' regex engine matches. */
  private val preTokenPattern = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** Pre-tokenized chunks; the pattern tiles the whole string (every
    * char falls in some arm). */
  def preTokenize(s: String): Seq[String] = {
    val m = preTokenPattern.matcher(s)
    val out = Seq.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** Chunk → mapped byte-char string (UTF-8 bytes through the table). */
  def mapChunk(chunk: String): String = {
    val bytes = chunk.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(byteToChar(bytes(i) & 0xff)); i += 1 }
    sb.toString
  }

  /** Token string back to raw text: byte-mappable chars decode through
    * the table (then UTF-8); a token holding ANY unmapped char is a
    * SPECIAL token (`<|endoftext|>` and friends) and passes through
    * literally — the published-decoder convention. */
  def decodeToken(tok: String, out: java.io.ByteArrayOutputStream): Unit = {
    var i = 0
    while (i < tok.length) {
      if (charToByte.get(tok.charAt(i)) == null) {
        out.write(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        return
      }
      i += 1
    }
    i = 0
    while (i < tok.length) {
      out.write(charToByte.get(tok.charAt(i)).intValue())
      i += 1
    }
  }
}

object BpeUtil {

  val EndOfWord = "</w>"

  private val wsSet = " \t\n\u000B\f\r"
  private def isWs(cp: Int): Boolean = cp < 128 && wsSet.indexOf(cp) >= 0

  /** [[isWs]] on one UTF-8 byte: the same six ASCII code points (9-13
    * and 32). No byte of a multi-byte UTF-8 sequence is below 0x80, so
    * splitting the bytes here splits the text where [[isWs]] does. */
  private def isWsByte(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)

  /** Word -> code-point symbols + end-of-word marker. */
  private[graft] def initialSymbols(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length + 1)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += EndOfWord
    out.toArray
  }

  /** Greedy BPE application to ONE word: repeatedly merge ALL
    * occurrences of the lowest-rank adjacent pair (left to right)
    * until no adjacent pair is in the model — the classic algorithm. */
  private[graft] def encodeWord(word: String, m: BpeModel): Array[String] = {
    val cached = m.cache.get().get(word)
    if (cached != null) return cached
    val syms = encodeSymbols(initialSymbols(word), m)
    m.cache.get().put(word, syms)
    syms
  }

  /** The byte-level sibling: greedy merges over a pre-mapped
    * byte-char chunk, per-CHAR initial symbols, no end-of-word
    * marker. Cached under the mapped chunk (same per-thread LRU — a
    * model runs in exactly one mode, so the key spaces cannot mix). */
  private[graft] def encodeByteChunk(mapped: String, m: BpeModel): Array[String] = {
    val cached = m.cache.get().get(mapped)
    if (cached != null) return cached
    val init = new Array[String](mapped.length)
    var i = 0
    while (i < mapped.length) { init(i) = String.valueOf(mapped.charAt(i)); i += 1 }
    val syms = encodeSymbols(init, m)
    m.cache.get().put(mapped, syms)
    syms
  }

  /** The shared greedy merge loop over an initial symbol array. */
  private def encodeSymbols(initial: Array[String], m: BpeModel): Array[String] = {
    var syms = initial
    var done = false
    while (!done && syms.length > 1) {
      // lowest-rank adjacent pair present in the model
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val inner = m.ranks.get(syms(i))
        val r = if (inner == null) null else inner.get(syms(i + 1))
        if (r != null && r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (l, r) = m.merges(bestRank)
        val merged = l + r
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += merged; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toArray
      }
    }
    syms
  }

  /** Whitespace-split the text (the engine-wide `[ \t\n\x0b\f\r]+`
    * separator class), BPE-encode each word, concatenate. Byte-level
    * models instead pre-tokenize with the published regex and encode
    * each chunk's mapped byte chars — one entry point, both
    * conventions. */
  def tokens(text: UTF8String, m: BpeModel): ArrayData = {
    if (m.byteLevel) return byteLevelTokens(text, m)
    val s = text.toString
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val toks = encodeWord(s.substring(start, i), m)
        var k = 0
        while (k < toks.length) { out += UTF8String.fromString(toks(k)); k += 1 }
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  private def byteLevelTokens(text: UTF8String, m: BpeModel): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    BpeByteLevel.preTokenize(text.toString).foreach { chunk =>
      val toks = encodeByteChunk(BpeByteLevel.mapChunk(chunk), m)
      var k = 0
      while (k < toks.length) { out += UTF8String.fromString(toks(k)); k += 1 }
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** ids → text (see [[BpeDecodeIds]] for the contract): vocabulary
    * lookup per id (out-of-range / NULL → the unk marker, pad dropped),
    * concatenate, split on the end-of-word markers, single-space join.
    * Called from generated code — keep the signature stable. */
  def decodeIds(ids: ArrayData, m: BpeModel): UTF8String = {
    if (m.byteLevel) return byteLevelDecodeIds(ids, m)
    val vocab = m.vocab
    val padId = m.padId
    // out-of-range / NULL ids decode to the MODEL's unk marker (an
    // external vocab names its own), falling back to the derived
    // convention for hand-built models without one
    val unkTok =
      if (m.unkId >= 0 && m.unkId < vocab.length) vocab(m.unkId)
      else BpeModel.UnkToken
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      if (ids.isNullAt(i)) sb.append(unkTok)
      else {
        val id = ids.getInt(i)
        // padId < 0 = no pad slot: nothing is dropped (the guard also
        // keeps a NEGATIVE id from matching the -1 sentinel)
        if (padId < 0 || id != padId) {
          if (id >= 0 && id < vocab.length) sb.append(vocab(id))
          else sb.append(unkTok)
        }
      }
      i += 1
    }
    val parts = sb.toString.split(java.util.regex.Pattern.quote(EndOfWord), -1)
    val out = new java.lang.StringBuilder
    var k = 0
    while (k < parts.length) {
      if (parts(k).nonEmpty) {
        if (out.length > 0) out.append(' ')
        out.append(parts(k))
      }
      k += 1
    }
    UTF8String.fromString(out.toString)
  }

  /** Byte-level ids → text: vocabulary lookup, pad dropped (when the
    * vocab has a pad slot), byte-mappable tokens decode through the
    * byte table (then UTF-8 — hostile byte sequences come back with
    * replacement chars, never a throw), special tokens pass through
    * literally, out-of-range/NULL ids become the model's unk token
    * when it has one and U+FFFD otherwise. LOSSLESS on faithful ids —
    * decode(encode(s)) == s for any s, no whitespace normalization. */
  private def byteLevelDecodeIds(ids: ArrayData, m: BpeModel): UTF8String = {
    val vocab = m.vocab
    val padId = m.padId
    val unkTok =
      if (m.unkId >= 0 && m.unkId < vocab.length) vocab(m.unkId) else "�"
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      if (ids.isNullAt(i)) BpeByteLevel.decodeToken(unkTok, out)
      else {
        val id = ids.getInt(i)
        if (padId < 0 || id != padId) {
          if (id >= 0 && id < vocab.length) BpeByteLevel.decodeToken(vocab(id), out)
          else BpeByteLevel.decodeToken(unkTok, out)
        }
      }
      i += 1
    }
    UTF8String.fromString(
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** [[tokens]] mapped through the model's [[BpeModel.vocab]]: the
    * token-ID stream a trainer's data loader consumes, index-aligned
    * with [[tokens]]; symbols outside the vocabulary become the
    * model's unk id. The word-level path never decodes the text: it
    * splits the UTF-8 bytes on the whitespace bytes ([[isWsByte]]),
    * looks each word up through a zero-copy view in the per-thread
    * word → ids cache ([[BpeModel.idScratch]]), and on a miss decodes
    * that one word, runs the greedy encode and maps it through
    * [[BpeModel.vocabIds]]. The ids gather in the thread's reused
    * buffer and leave as one primitive `UnsafeArrayData`. Called from
    * generated code — keep the signature stable. */
  def tokenIds(text: UTF8String, m: BpeModel): ArrayData = {
    if (m.byteLevel) return byteLevelTokenIds(text, m)
    val scratch = m.idScratch.get()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var buf = scratch.buf
    var len = 0
    var i = 0
    while (i < n) {
      while (i < n && isWsByte(Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < n && !isWsByte(Platform.getByte(base, off + i))) i += 1
      if (i > start) {
        val ids = wordIds(UTF8String.fromAddress(base, off + start, i - start), scratch, m)
        if (len + ids.length > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + ids.length))
        System.arraycopy(ids, 0, buf, len, ids.length)
        len += ids.length
      }
    }
    if (buf.length <= BpeModel.KeptIds) scratch.buf = buf
    UnsafeArrayData.fromPrimitiveArray(buf, Platform.INT_ARRAY_OFFSET, len, 4)
  }

  /** One word's ids from the thread's cache; a miss encodes the word
    * and caches its ids under a copy of the view's bytes. */
  private def wordIds(word: UTF8String, scratch: BpeIdScratch, m: BpeModel): Array[Int] = {
    val cached = scratch.words.get(word)
    if (cached != null) return cached
    val toks = encodeSymbols(initialSymbols(word.toString), m)
    val ids = new Array[Int](toks.length)
    var k = 0
    while (k < toks.length) {
      val id = m.vocabIds.get(toks(k))
      ids(k) = if (id == null) m.unkId else id.intValue()
      k += 1
    }
    scratch.words.put(word.copy(), ids)
    ids
  }

  private def byteLevelTokenIds(text: UTF8String, m: BpeModel): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    BpeByteLevel.preTokenize(text.toString).foreach { chunk =>
      val toks = encodeByteChunk(BpeByteLevel.mapChunk(chunk), m)
      var k = 0
      while (k < toks.length) {
        val id = m.vocabIds.get(toks(k))
        // unreachable for a loadExternalByteLevel model (the loader
        // validates all 256 byte chars are in the vocab, and merges
        // only create validated compounds); hand-built models without
        // an unk surface the honest -1 sentinel
        out += (if (id == null) m.unkId else id.intValue())
        k += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out.result())
  }
}

/** BPE tokens of a string column under a broadcast [[BpeModel]] — one
  * native pass, stateless (streams unchanged). Emits the token
  * strings INCLUDING the `</w>` markers; `size(...)` of this is the
  * real-tokenizer token count. */
case class BpeTokens(
    child: Expression,
    modelBc: org.apache.spark.broadcast.Broadcast[BpeModel])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_tokens expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_tokens"

  override protected def nullSafeEval(input: Any): Any =
    BpeUtil.tokens(input.asInstanceOf[UTF8String], modelBc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bpeModelBc", modelBc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeUtil$$.MODULE$$.tokens($c, " +
        s"(graft.functions.BpeModel) $bcRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE token IDS of a string column under a broadcast [[BpeModel]] —
  * [[BpeTokens]]' id sibling: the same whitespace split and greedy
  * encode, each token mapped through the model's vocabulary
  * ([[BpeModel.vocab]]; unknown symbols → the model's unk id). This is
  * the stream a training data loader actually reads, and `size(...)`
  * of it is the token count ([[graft.ops.Bpe.tokenCount]]). The
  * word-level kernel ([[BpeUtil.tokenIds]]) scans the UTF-8 bytes,
  * caches word → ids per thread and returns a primitive int array
  * without building token strings. */
case class BpeIds(
    child: Expression,
    modelBc: org.apache.spark.broadcast.Broadcast[BpeModel])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_ids expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_ids"

  override protected def nullSafeEval(input: Any): Any =
    BpeUtil.tokenIds(input.asInstanceOf[UTF8String], modelBc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bpeModelBc", modelBc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeUtil$$.MODULE$$.tokenIds($c, " +
        s"(graft.functions.BpeModel) $bcRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Text back from BPE token IDS under a broadcast [[BpeModel]] —
  * [[BpeIds]]' inverse up to whitespace normalization and unknown
  * symbols: each id maps through the model's derived vocabulary
  * (out-of-range and NULL ids → the unk marker; pad ids are dropped —
  * they carry no text), the symbols concatenate, and the end-of-word
  * markers become single spaces. The inspection verb for a SHIPPED
  * shard: decode a packed row's input_ids to see the text a sequence
  * actually trains on. */
case class BpeDecodeIds(
    child: Expression,
    modelBc: org.apache.spark.broadcast.Broadcast[BpeModel])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_decode_ids expects array<int>, got ${other.simpleString}")
    }
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_decode_ids"

  override protected def nullSafeEval(input: Any): Any =
    BpeUtil.decodeIds(input.asInstanceOf[ArrayData], modelBc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bpeModelBc", modelBc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeUtil$$.MODULE$$.decodeIds($c, " +
        s"(graft.functions.BpeModel) $bcRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object bpeExprs {
  def bpe_tokens(c: Column,
      modelBc: org.apache.spark.broadcast.Broadcast[BpeModel]): Column =
    Bridge.toColumn(BpeTokens(Bridge.toExpression(c), modelBc))
  def bpe_ids(c: Column,
      modelBc: org.apache.spark.broadcast.Broadcast[BpeModel]): Column =
    Bridge.toColumn(BpeIds(Bridge.toExpression(c), modelBc))
  def bpe_decode_ids(c: Column,
      modelBc: org.apache.spark.broadcast.Broadcast[BpeModel]): Column =
    Bridge.toColumn(BpeDecodeIds(Bridge.toExpression(c), modelBc))
}
