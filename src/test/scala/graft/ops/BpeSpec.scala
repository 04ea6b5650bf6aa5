package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BpeModel, BpeUtil}

class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-bpe-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  def forSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(2016L + i)).foreach(body)
    }

  /** INDEPENDENT reference trainer: recount every pair from scratch
    * each iteration (the textbook O(merges * corpus) formulation) —
    * the production trainer's incremental delta updates must match
    * this exactly on every corpus. */
  private def naiveTrain(
      counts: Seq[(String, Long)], numMerges: Int, minPairCount: Long): Seq[(String, String)] = {
    var words: Seq[(Array[String], Long)] =
      counts.map(c => (BpeUtil.initialSymbols(c._1), c._2))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (s, c) =>
        (0 until s.length - 1).foreach(i => pc((s(i), s(i + 1))) =
          pc.getOrElse((s(i), s(i + 1)), 0L) + c)
      }
      val eligible = pc.filter(_._2 >= minPairCount)
      if (eligible.isEmpty) done = true
      else {
        // max count, ties -> lexicographically smallest pair
        val best = eligible.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        words = words.map { case (s, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == best._1 && s(i + 1) == best._2) {
              out += best._1 + best._2; i += 2
            } else { out += s(i); i += 1 }
          }
          (out.toArray, c)
        }
      }
    }
    merges.toSeq
  }

  test("incremental trainer == naive recount trainer on random corpora") {
    val word: Gen[String] = for {
      n <- Gen.chooseNum(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "é", "中"))
    } yield cs.mkString
    val dict: Gen[Seq[(String, Long)]] = for {
      n <- Gen.chooseNum(1, 25)
      ws <- Gen.listOfN(n, word)
      cs <- Gen.listOfN(n, Gen.chooseNum(1L, 40L))
    } yield ws.distinct.zip(cs)
    forSamples(dict, 120) { d =>
      val inc = Bpe.trainFromWordCounts(d, numMerges = 12, minPairCount = 2).merges.toSeq
      val ref = naiveTrain(d, numMerges = 12, minPairCount = 2)
      assert(inc == ref, s"dict=$d\nincremental=$inc\nnaive=$ref")
    }
  }

  test("model continuation: continue(train(c, n), c, k) == train(c, n+k) on random corpora") {
    val word: Gen[String] = for {
      n <- Gen.chooseNum(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "é"))
    } yield cs.mkString
    val dict: Gen[Seq[(String, Long)]] = for {
      n <- Gen.chooseNum(1, 25)
      ws <- Gen.listOfN(n, word)
      cs <- Gen.listOfN(n, Gen.chooseNum(1L, 40L))
    } yield ws.distinct.zip(cs)
    forSamples(Gen.zip(dict, Gen.chooseNum(0, 12), Gen.chooseNum(0, 12)), 120) {
      case (d, n, k) =>
        val whole = Bpe.trainFromWordCounts(d, numMerges = n + k, minPairCount = 2)
        val base = Bpe.trainFromWordCounts(d, numMerges = n, minPairCount = 2)
        val resumed = Bpe.continueFromWordCounts(base, d, extraMerges = k, minPairCount = 2)
        assert(resumed.merges.toSeq == whole.merges.toSeq,
          s"dict=$d n=$n k=$k\nresumed=${resumed.merges.toSeq}\nwhole=${whole.merges.toSeq}")
    }
  }

  test("encoder == naive greedy reference on random texts under random trained models") {
    // the hot encoder (two-level rank map, LRU cache, in-place merge
    // loop) against a from-the-definition reference implemented with
    // none of its machinery: the lowest-rank pair present is found by
    // scanning the rank-ordered merge LIST, and its occurrences merge
    // left-to-right non-overlapping via an immutable fold
    def naiveEncode(word: String, m: BpeModel): Seq[String] = {
      var syms = BpeUtil.initialSymbols(word).toSeq
      var done = false
      while (!done && syms.length > 1) {
        val present = syms.zip(syms.tail).toSet
        m.merges.find(present.contains) match {
          case None => done = true
          case Some((l, r)) =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                out += l + r; i += 2
              } else { out += syms(i); i += 1 }
            }
            syms = out.toSeq
        }
      }
      syms
    }
    val word: Gen[String] = for {
      n <- Gen.chooseNum(1, 8)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "é"))
    } yield cs.mkString
    val corpusGen: Gen[Seq[(String, Long)]] = for {
      n <- Gen.chooseNum(2, 20)
      ws <- Gen.listOfN(n, word)
      cs <- Gen.listOfN(n, Gen.chooseNum(1L, 30L))
    } yield ws.distinct.zip(cs)
    forSamples(Gen.zip(corpusGen, Gen.listOfN(20, word)), 150) { case (dict, texts) =>
      val m = Bpe.trainFromWordCounts(dict, numMerges = 15, minPairCount = 2)
      texts.foreach { w =>
        val fast = BpeUtil.encodeWord(w, m).toSeq
        val ref = naiveEncode(w, m)
        assert(fast == ref, s"word=$w merges=${m.merges.toSeq}\nfast=$fast\nref=$ref")
      }
    }
  }

  test("encode round-trips the text: tokens minus markers rebuild every word") {
    val corpus = Seq(
      "the cat sat on the mat", "the thin cat", "on and on and on",
      "中文 mixed café text", "").toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 20, minPairCount = 2)
    assert(m.merges.nonEmpty)
    val bc = Bpe.broadcastModel(spark, m)
    val rows = corpus.select(col("text"), Bpe.tokens(col("text"), bc).as("toks")).collect()
    rows.foreach { r =>
      val text = r.getString(0)
      val toks = r.getSeq[String](1)
      val words = text.trim.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      // every </w> ends exactly one word; concatenating and splitting
      // on the marker rebuilds the word sequence
      val rebuilt = toks.mkString.split(java.util.regex.Pattern.quote(BpeUtil.EndOfWord))
        .filter(_.nonEmpty)
      assert(rebuilt.toSeq == words.toSeq, s"text='$text' toks=$toks")
      assert(toks.count(_.endsWith(BpeUtil.EndOfWord)) == words.length)
    }
  }

  test("frequent words compress to single tokens; token count <= char count") {
    val corpus = (1 to 50).map(_ => "alpha beta alpha").toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 30, minPairCount = 2)
    val bc = Bpe.broadcastModel(spark, m)
    val toks = Seq("alpha beta").toDF("text")
      .select(Bpe.tokens(col("text"), bc)).head().getSeq[String](0)
    assert(toks == Seq("alpha" + BpeUtil.EndOfWord, "beta" + BpeUtil.EndOfWord),
      s"fully-learned words must encode as one token each, got $toks")
    // an unseen word stays multi-token but bounded by cp count + 1
    val unseen = Seq("zq").toDF("text")
      .select(Bpe.tokens(col("text"), bc)).head().getSeq[String](0)
    assert(unseen.length <= 3 && unseen.nonEmpty)
  }

  test("model save/load round-trips bit-for-bit and rejects a non-model table") {
    val corpus = Seq("some words repeated words some", "words some").toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 10, minPairCount = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-model").toString + "/m"
    Bpe.saveModel(spark, m, dir)
    val back = Bpe.loadModel(spark, dir)
    assert(back.merges.toSeq == m.merges.toSeq)
    assert(back.alphabet.toSeq == m.alphabet.toSeq)
    assert(back.vocab.toSeq == m.vocab.toSeq)
    val bad = java.nio.file.Files.createTempDirectory("graft-bpe-bad").toString + "/m"
    Seq((5, "a", "b")).toDF("rank", "left", "right").write.parquet(bad)
    val e = intercept[IllegalArgumentException] { Bpe.loadModel(spark, bad) }
    assert(e.getMessage.contains("rank"))
    // a pre-alphabet model table (merge rows only) still loads — as an
    // empty-alphabet model
    val old = java.nio.file.Files.createTempDirectory("graft-bpe-old").toString + "/m"
    Seq((0, "a", "b"), (1, "ab", "c")).toDF("rank", "left", "right").write.parquet(old)
    val legacy = Bpe.loadModel(spark, old)
    assert(legacy.merges.toSeq == Seq(("a", "b"), ("ab", "c")))
    assert(legacy.alphabet.isEmpty)
  }

  test("vocab derivation is the stated order: pad, unk, alphabet sorted, compounds in merge order") {
    // the q_bpe_encode fixture corpus — this assertion IS the gate
    // oracle's vocab VALUES table, derived by hand from the stated rule
    val arms = Seq(
      "the thin cat sat on the mat",
      "the thin hat fit that cat",
      "this fat cat sat on that hat")
    val corpus = (0 until 300).map(i => arms(i % 3)).toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 10, minPairCount = 2)
    assert(m.alphabet.toSeq == Seq(
      BpeUtil.EndOfWord, "a", "c", "e", "f", "h", "i", "m", "n", "o", "s", "t"))
    assert(m.vocab.toSeq == Seq(
      "<pad>", "<unk>", "</w>", "a", "c", "e", "f", "h", "i", "m", "n", "o",
      "s", "t",
      "t</w>", "at</w>", "th", "n</w>", "cat</w>", "e</w>", "the</w>", "thi",
      "hat</w>", "on</w>"))
    // ids are index-aligned with tokens; unseen code points -> unk(1)
    val bc = Bpe.broadcastModel(spark, m)
    val r = Seq("the thin cat", "xyz the").toDF("text")
      .select(Bpe.tokens(col("text"), bc).as("t"), Bpe.ids(col("text"), bc).as("i"))
      .collect()
    assert(r(0).getSeq[String](0) == Seq("the</w>", "thi", "n</w>", "cat</w>"))
    assert(r(0).getSeq[Int](1) == Seq(20, 21, 17, 18))
    // "xyz" under this model: x, y, z unseen -> unk unk unk, then </w>=2
    assert(r(1).getSeq[Int](1) == Seq(1, 1, 1, 2, 20))
  }

  test("ids == tokens mapped through the vocab on random models and hostile text") {
    val word: Gen[String] = for {
      n <- Gen.chooseNum(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "é", "中", "<", "/", "w", ">"))
    } yield cs.mkString
    val dictGen: Gen[Seq[(String, Long)]] = for {
      n <- Gen.chooseNum(2, 20)
      ws <- Gen.listOfN(n, word)
      cs <- Gen.listOfN(n, Gen.chooseNum(1L, 30L))
    } yield ws.distinct.zip(cs)
    forSamples(Gen.zip(dictGen, Gen.listOfN(12, word)), 80) { case (dict, texts) =>
      val m = Bpe.trainFromWordCounts(dict, numMerges = 10, minPairCount = 2)
      val bc = Bpe.broadcastModel(spark, m)
      val rows = texts.toDF("text")
        .select(Bpe.tokens(col("text"), bc), Bpe.ids(col("text"), bc)).collect()
      rows.foreach { r =>
        val expect = r.getSeq[String](0).map(t =>
          Option(m.vocabIds.get(t)).map(_.intValue())
            .getOrElse(graft.functions.BpeModel.UnkId))
        assert(r.getSeq[Int](1) == expect)
      }
    }
  }

  /** A seeded byte corpus under a seeded model, for the pinned-ids
    * spec: dictionary words, unseen words, every ASCII whitespace byte
    * as a separator, the non-splitting NBSP/U+2028/U+3000 inside
    * words, non-BMP code points, malformed UTF-8 runs, leading and
    * trailing whitespace, empty and whitespace-only texts. The second
    * model swaps in an explicit token table (a third of the derived
    * vocabulary dropped, the rest reversed, unk at slot 5), so unknown
    * symbols take a non-default id. */
  private def pinnedCorpus(): (Seq[BpeModel], Seq[Array[Byte]]) = {
    val r = new scala.util.Random(20261019L)
    val cps = Array("a", "b", "c", "d", "e", "n", "t", "é", "ß", "中", "文",
      "\uD83D\uDE00", "\uD834\uDD1E", "<", "/", "w", ">")
    def word(): String = Seq.fill(1 + r.nextInt(7))(cps(r.nextInt(cps.length))).mkString
    val dict = Seq.fill(400)(word()).distinct.map(w => (w, 1L + r.nextInt(40)))
    val m = Bpe.trainFromWordCounts(dict, numMerges = 150, minPairCount = 2)
    val table = m.vocab.indices.filter(_ % 3 != 2).map(m.vocab(_)).reverse.toArray
    val ext = BpeModel(m.merges, m.alphabet, table, externalPadId = 0, externalUnkId = 5)
    val seps = Array(" ", "\t", "\n", "\u000B", "\f", "\r", "  ", " \t\r\n")
    val joins = Array("\u00A0", "\u2028", "\u3000")
    val bad = Array(Array(0xE2, 0x82), Array(0x80), Array(0xC0, 0xAF),
      Array(0xED, 0xA0, 0x80), Array(0xF0, 0x9F), Array(0xFF)).map(_.map(_.toByte))
    def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val texts = Seq.fill(600) {
      val out = new java.io.ByteArrayOutputStream()
      if (r.nextInt(4) == 0) out.write(utf8(seps(r.nextInt(seps.length))))
      (0 until r.nextInt(40)).foreach { k =>
        if (k > 0) out.write(utf8(seps(r.nextInt(seps.length))))
        r.nextInt(10) match {
          case 0 => out.write(utf8(word() + "xq" + word()))
          case 1 => out.write(utf8(word() + joins(r.nextInt(joins.length)) + word()))
          case 2 =>
            out.write(utf8(word())); out.write(bad(r.nextInt(bad.length)))
            if (r.nextBoolean()) out.write(utf8(word()))
          case _ => out.write(utf8(dict(r.nextInt(dict.length))._1))
        }
      }
      if (r.nextInt(4) == 0) out.write(utf8(seps(r.nextInt(seps.length))))
      out.toByteArray
    } ++ Seq(Array.emptyByteArray, utf8(" \t\n\u000B\f\r"))
    (Seq(m, ext), texts)
  }

  private def idsSha256(models: Seq[BpeModel], texts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(4)
    def put(i: Int): Unit = { buf.clear(); buf.putInt(i); md.update(buf.array()) }
    for (m <- models; t <- texts) {
      val ids = BpeUtil.tokenIds(org.apache.spark.unsafe.types.UTF8String.fromBytes(t), m)
        .toIntArray()
      put(ids.length); ids.foreach(put)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("ids are pinned: a seeded hostile corpus hashes to the captured SHA-256") {
    // captured from the String-decoding encoder before the byte-scan
    // rewrite; any change to the split, the cache or the id mapping
    // that moves one id moves this hash
    val (models, texts) = pinnedCorpus()
    assert(idsSha256(models, texts) ==
      "faf649a5c827b2766682e6a0b1e635bedde0227c925089b9daf055095e05b152")
    // the codegen'd column path yields the same ids as the direct call
    val df = texts.toDF("b").select(Bpe.ids(col("b").cast("string"),
      Bpe.broadcastModel(spark, models(1))))
    val viaSpark = df.collect().map(_.getSeq[Int](0))
    texts.zip(viaSpark).foreach { case (t, got) =>
      assert(got == BpeUtil.tokenIds(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(t), models(1)).toIntArray().toSeq)
    }
  }

  test("hostile bytes: ids == tokens through vocabIds and tokenCount == size(tokens)") {
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String
    val corpus = (1 to 20).flatMap(_ => Seq("the cat sat on the mat", "the thin cat café 中文"))
      .toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 25, minPairCount = 2)
    val bc = Bpe.broadcastModel(spark, m)
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def u(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def check(what: String, text: UTF8String): Unit = {
      val toks = BpeUtil.tokens(text, m)
      val want = (0 until toks.numElements()).map(i =>
        Option(m.vocabIds.get(toks.getUTF8String(i).toString)).fold(m.unkId)(_.intValue))
      val ids = BpeUtil.tokenIds(text, m)
      assert(ids.toIntArray().toSeq == want, what)
      assert(ids.numElements() == toks.numElements(), what)
    }
    val cases: Seq[(String, Array[Byte])] = Seq(
      "truncated lead byte before a space" -> (u("cat") ++ b(0xE2, 0x82) ++ u(" the")),
      "truncated lead byte at the end" -> (u("the ") ++ b(0xE2, 0x82)),
      "lone continuation byte" -> (u("the") ++ b(0x80) ++ u("cat mat")),
      "overlong C0 AF" -> (u("a ") ++ b(0xC0, 0xAF) ++ u(" t")),
      "encoded surrogate ED A0 80" -> (u("sat") ++ b(0xED, 0xA0, 0x80) ++ u("on")),
      "every ASCII whitespace byte" -> u("the\tcat\nsat\u000Bon\fthe\rmat the"),
      "NBSP, U+2028 and U+3000 do not split" -> u("the\u00A0cat the\u2028mat on\u3000the"),
      "non-BMP code points" -> u("\uD83D\uDE00 the\uD834\uDD1Ecat \uD83D\uDE00\uD83D\uDE00"),
      "empty text" -> Array.emptyByteArray,
      "whitespace-only text" -> u(" \t\n\u000B\f\r "))
    // the non-splitting spaces stay inside one word
    assert(BpeUtil.tokenIds(UTF8String.fromBytes(cases(6)._2), m).numElements() ==
      BpeUtil.tokens(UTF8String.fromString("the_cat the_mat on_the"), m).numElements())
    assert(BpeUtil.tokenIds(UTF8String.fromBytes(cases(9)._2), m).numElements() == 0)
    cases.foreach { case (what, bytes) =>
      check(what, UTF8String.fromBytes(bytes))
      // a slice that does not start at offset 0, with bytes on both
      // sides that would change the split if they were read
      val framed = b(0x41, 0xE2, 0x80) ++ bytes ++ b(0x80, 0x42)
      check(s"$what (slice)", UTF8String.fromBytes(framed, 3, bytes.length))
      // an off-heap string (null base object, absolute address)
      val addr = Platform.allocateMemory(math.max(bytes.length, 1).toLong)
      try {
        Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, null, addr, bytes.length.toLong)
        check(s"$what (off-heap)", UTF8String.fromAddress(null, addr, bytes.length))
      } finally Platform.freeMemory(addr)
    }
    // more distinct words than the per-thread cache holds: early words
    // are evicted, and meeting them again re-encodes to the same ids
    val many = (0 until 12000).map(i => "the" + Integer.toString(i, 36).map(c =>
      if (c.isDigit) ('a' + (c - '0')).toChar else c) + "cat")
    val big = UTF8String.fromString(many.mkString(" "))
    check("12,000 distinct words", big)
    check("12,000 distinct words, again", big)
    many.take(50).foreach(w => check(w, UTF8String.fromString(w)))
    // as columns, through codegen: tokenCount == size(tokens) and ids
    // == tokens through vocabIds
    val rows = cases.map(_._2).toDF("b").select(col("b").cast("string").as("t"))
      .select(Bpe.tokenCount(col("t"), bc), size(Bpe.tokens(col("t"), bc)),
        Bpe.ids(col("t"), bc), Bpe.tokens(col("t"), bc)).collect()
    rows.zip(cases).foreach { case (r, (what, _)) =>
      assert(r.getInt(0) == r.getInt(1), what)
      assert(r.getSeq[Int](2) == r.getSeq[String](3).map(t =>
        Option(m.vocabIds.get(t)).fold(m.unkId)(_.intValue)), what)
    }
  }

  test("continuation grows the alphabet; duplicate merge pairs keep the original rank") {
    val base = Bpe.trainFromWordCounts(Seq(("aab", 10L)), numMerges = 2, minPairCount = 2)
    val grown = Bpe.continueFromWordCounts(base, Seq(("ccd", 5L), ("ccd x", 1L)),
      extraMerges = 1, minPairCount = 2)
    assert(base.alphabet.toSeq == Seq("</w>", "a", "b"))
    Seq("c", "d", "x").foreach(s => assert(grown.alphabet.contains(s)))
    assert(grown.alphabet.toSeq == grown.alphabet.toSeq.sorted)
    // a hand-built model with a duplicate pair: the encoder must honor
    // the FIRST (lowest) rank — "xabc" merges (a,b)@0 before (b,c)@1
    val dup = graft.functions.BpeModel(
      Array(("a", "b"), ("b", "c"), ("a", "b")), Array("a", "b", "c", "x", "</w>"))
    assert(BpeUtil.encodeWord("xabc", dup).toSeq ==
      Seq("x", "ab", "c", BpeUtil.EndOfWord))
    // vocab dedup: the duplicate compound gets ONE id (first wins) and
    // every vocab entry is unique
    assert(dup.vocab.count(_ == "ab") == 1)
    assert(dup.vocab.toSeq.distinct == dup.vocab.toSeq)
    assert(dup.vocab.toSeq ==
      Seq("<pad>", "<unk>", "</w>", "a", "b", "c", "x", "ab", "bc"))
  }

  test("degenerate corpora: empty corpus trains an empty model; encoding with it is the cp split") {
    val empty = Seq.empty[String].toDF("text")
    val m = Bpe.train(empty, "text", numMerges = 5)
    assert(m.merges.isEmpty)
    val bc = Bpe.broadcastModel(spark, m)
    val rows = Seq("ab é", null: String).toDF("text")
      .select(Bpe.tokens(col("text"), bc)).collect()
    assert(rows(0).getSeq[String](0) ==
      Seq("a", "b", BpeUtil.EndOfWord, "é", BpeUtil.EndOfWord))
    assert(rows(1).isNullAt(0))
  }

  test("chunkByTokenCount: greedy fill, oversized word alone, chunks rebuild the text") {
    val corpus = (1 to 50).map(_ => "aa bb aa").toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 30, minPairCount = 2)
    val bc = Bpe.broadcastModel(spark, m)
    // learned words cost 1 token; unseen "zqxj" costs cp+1 = 5
    val df = Seq(
      (1L, "aa bb aa bb aa"),          // 5x cost-1 -> budget 2: [2,2,1]
      (2L, "aa zqxj aa"),              // 1 + 5 + 1 -> 5-budget: [aa], [zqxj], [aa]? greedy: aa(1), zqxj would make 6>5 -> new chunk (5), aa would make 6>5 -> new chunk
      (3L, null.asInstanceOf[String])) // NULL text -> no chunks
      .toDF("id", "text")
    val chunks = Bpe.chunkByTokenCount(df, "id", "text", maxTokens = 2, bc)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val doc1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    assert(doc1.map(c => (c._3, c._4)).toSeq ==
      Seq(("aa bb", 2), ("aa bb", 2), ("aa", 1)))
    assert(chunks.forall(_._1 != 3L))
    // budget 5: the oversized-ish middle word still lands alone
    val doc2 = Bpe.chunkByTokenCount(df.filter(col("id") === 2L), "id", "text",
      maxTokens = 5, bc).collect().map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    assert(doc2.map(c => (c._2, c._3)).toSeq ==
      Seq(("aa", 1), ("zqxj", 5), ("aa", 1)))
    // invariants on real data: chunk texts rebuild the normalized doc,
    // chunk costs sum to the doc's total token count
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 50)
    val ch = Bpe.chunkByTokenCount(docs, "doc_id", "text", maxTokens = 24, bc)
    val rebuilt = ch.groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        s => s.getField("chunk_text"))).as("re"),
        sum("n_chunk_tokens").as("tot"))
    val joined = docs.select(col("doc_id"),
      regexp_replace(trim(col("text")), "\\s+", " ").as("norm"),
      Bpe.tokenCount(col("text"), bc).as("n"))
      .join(rebuilt, "doc_id").collect()
    joined.foreach { r =>
      assert(r.getAs[String]("re") == r.getAs[String]("norm"))
      assert(r.getAs[Long]("tot") == r.getAs[Int]("n").toLong)
    }
  }

  test("decode inverts tokens up to whitespace normalization") {
    val corpus = Seq("the cat sat on the mat", "the thin cat").toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 20, minPairCount = 2)
    val bc = Bpe.broadcastModel(spark, m)
    val rows = Seq("the  cat\tsat ", "", "  ", null: String).toDF("text")
      .select(Bpe.decode(Bpe.tokens(col("text"), bc))).collect()
    assert(rows(0).getString(0) == "the cat sat")
    assert(rows(1).getString(0) == "")
    assert(rows(2).getString(0) == "")
    assert(rows(3).isNullAt(0))
  }

  test("decodeIds inverts ids: round trip, unk substitution, pads dropped, hostile ids") {
    val corpus = Seq("the cat sat on the mat", "the thin cat").toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 20, minPairCount = 2)
    val bc = Bpe.broadcastModel(spark, m)
    // in-alphabet text round-trips to its whitespace-normalized form
    val rt = Seq("the  cat\tsat ", "", "  ", null: String).toDF("text")
      .select(Bpe.decodeIds(Bpe.ids(col("text"), bc), bc)).collect()
    assert(rt(0).getString(0) == "the cat sat")
    assert(rt(1).getString(0) == "" && rt(2).getString(0) == "")
    assert(rt(3).isNullAt(0))
    // out-of-vocabulary code points decode to the unk marker; an
    // unknown WORD-FINAL symbol loses its end-of-word marker and the
    // word fuses with the next (the documented unk-substitution cost)
    val unk = Seq("the zebra cat").toDF("text")
      .select(Bpe.decodeIds(Bpe.ids(col("text"), bc), bc)).head().getString(0)
    assert(unk.startsWith("the ") && unk.contains("<unk>"), unk)
    // pads are dropped (a packed row decodes to its real text);
    // out-of-range and NULL ids decode to the unk marker
    val hostile = Seq(
      (Seq[Integer](0, 0, 0), ""),
      (Seq[Integer](9999, -5, null), "<unk><unk><unk>"))
      .toDF("ids", "want")
    hostile.select(Bpe.decodeIds(col("ids"), bc).as("got"), col("want"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1), r))
    // a packed sequence decodes to the text it trains on (pads gone)
    val packed = Packing.packWholeDocs(
      Bpe.withTokenIds(Seq((1L, "the cat"), (2L, "sat")).toDF("id", "text"),
        "text", "ids", bc),
      "id", "ids", seqLen = 64)
    val dec = packed.select(Bpe.decodeIds(col("input_ids"), bc)).head().getString(0)
    assert(dec == "the cat sat", dec)
  }

  test("withTokenCount wires the real count as a weight column usable by the budget ops") {
    val corpus = (1 to 50).map(_ => "alpha beta alpha").toDF("text")
    val m = Bpe.train(corpus, "text", numMerges = 30, minPairCount = 2)
    val bc = Bpe.broadcastModel(spark, m)
    val df = Seq((1L, "alpha beta"), (2L, "zq alpha")).toDF("id", "text")
    val counted = Bpe.withTokenCount(df, "text", "n_tok", bc)
    // "alpha beta" = 2 fully-learned tokens; "zq" is unseen (cp split)
    val byId = counted.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(byId(1L) == 2)
    assert(byId(2L) >= 2 && byId(2L) <= 4)
    // the column is a drop-in weight for the prefix-sum budgeters
    val packed = Packing.assignShards(counted, "id", "n_tok", budget = 3)
      .select("id", "shard_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed(1L) == 0L)
    assert(packed(2L) == (if (byId(1L) >= 3) 1L else 0L))
  }

  test("training on the real documents table is deterministic and compresses") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val m1 = Bpe.train(docs, "text", numMerges = 200, maxWords = 50000)
    val m2 = Bpe.train(docs, "text", numMerges = 200, maxWords = 50000)
    assert(m1.merges.toSeq == m2.merges.toSeq, "training must be deterministic")
    // the synthetic vocabulary exhausts its >=2-count pairs before 200
    // merges — the loop must stop at exhaustion, not loop or pad
    assert(m1.merges.length > 50 && m1.merges.length <= 200)
    val bc = Bpe.broadcastModel(spark, m1)
    val stats = docs.filter(col("text").isNotNull)
      .select(Bpe.tokenCount(col("text"), bc).as("bpe"),
        length(col("text")).as("chars"),
        graft.ops.TextOps.tokenCount(col("text")).as("words"))
      .agg(sum("bpe"), sum("chars"), sum("words")).head()
    val (bpe, chars, words) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    // a trained tokenizer sits strictly between characters and words
    assert(bpe < chars, s"bpe=$bpe chars=$chars")
    assert(bpe >= words, s"bpe=$bpe words=$words")
  }
}
