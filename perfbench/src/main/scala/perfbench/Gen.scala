package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. Each builds its workload's data in memory
  * from the seed alone, records the counts the checkers expect, and
  * exposes a digest of the logical content: the same seed gives the
  * same digest, a different seed a different one ([[Main]]'s
  * `--selftest-gen` mode checks both). Writing the data to files is a
  * separate step in each workload, so graft only ever sees files. */
object Gen {

  /** Inverse-CDF sampler of a Zipf(s) law over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Pronounceable synthetic words, distinct, drawn from the seed. */
  def vocabulary(r: SplittableRandom, size: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvz"; val vows = "aeiou"
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < size) {
      val syll = 1 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until syll).foreach { _ =>
        sb += cons(r.nextInt(cons.length)); sb += vows(r.nextInt(vows.length))
        if (r.nextInt(3) == 0) sb += cons(r.nextInt(cons.length))
      }
      seen.add(sb.toString)
    }
    seen.toArray(new Array[String](0))
  }

  // ------------------------------------------------------------ etl_csv

  val Categories = 24
  val Regions = Array("north", "south", "east", "west", "central")

  /** Orders CSV lines plus a product dimension CSV. Row fates are drawn in
    * step order, so each malformed or filtered row is charged to
    * exactly the step that rejects it first: asInt(qty), asDate,
    * the qty > 0 filter, then the inner join on product_id. */
  final case class EtlData(
      orderHeader: String, orders: Array[String], dimCsv: Array[String],
      badQty: Long, badDate: Long, nonPositive: Long, orphans: Long,
      loaded: Map[(String, String), (Long, Long, Double)], digest: String)

  def etl(seed: Long, rows: Int, products: Int): EtlData = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val dig = new Digest
    val dim = Array.newBuilder[String]
    dim += "product_id,category,list_price"
    val category = Array.tabulate(products) { p =>
      val c = s"cat${r.nextInt(Categories)}"
      val line = s"$p,$c,${1 + r.nextInt(500)}.${r.nextInt(100)}"
      dim += line; dig.add(line)
      c
    }
    val prodZipf = new Zipf(products, 0.8)
    val out = Array.newBuilder[String]
    var badQty, badDate, nonPositive, orphans = 0L
    val agg = scala.collection.mutable.HashMap.empty[(String, String), (Long, Long, Double)]
    var i = 0
    while (i < rows) {
      val orphan = r.nextInt(100) == 0
      val pid = if (orphan) products + r.nextInt(1000) else prodZipf.draw(r)
      val region = Regions(r.nextInt(Regions.length))
      val cents = 100 + r.nextInt(20000)
      val price = s"${cents / 100}.${"%02d".format(cents % 100)}"
      val qtyBad = r.nextInt(100) == 0
      val dateBad = r.nextInt(200) == 0
      val q = if (r.nextInt(50) == 0) -r.nextInt(3) else 1 + r.nextInt(20)
      val qty = if (qtyBad) (if (r.nextBoolean()) s"${q}x" else "n/a") else q.toString
      val date =
        if (dateBad) (if (r.nextBoolean()) "2024-02-30" else "31/12/2024")
        else f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      val line = s"$i,${r.nextInt(50000)},$pid,$qty,$price,$date,$region"
      out += line; dig.add(line)
      if (qtyBad) badQty += 1
      else if (dateBad) badDate += 1
      else if (q <= 0) nonPositive += 1
      else if (orphan) orphans += 1
      else {
        val k = (category(pid), region)
        val (n, u, rev) = agg.getOrElse(k, (0L, 0L, 0.0))
        agg(k) = (n + 1, u + q, rev + q * price.toDouble)
      }
      i += 1
    }
    EtlData("order_id,customer_id,product_id,qty,price,order_date,region", out.result(),
      dim.result(), badQty, badDate, nonPositive, orphans,
      agg.toMap, dig.hex)
  }

  // --------------------------------------------------------- train_pack

  val Sources = 8

  /** A corpus of Zipf-word documents of 40 to 120 words, with a
    * Zipf-sized `source` stratum column. */
  final case class Corpus(ids: Array[Long], sources: Array[String], texts: Array[String],
      digest: String)

  def corpus(seed: Long, docs: Int): Corpus = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val words = vocabulary(r, 5000)
    val wz = new Zipf(words.length, 1.05)
    val sz = new Zipf(Sources, 1.2)
    val dig = new Digest
    val ids = Array.tabulate(docs)(i => 1000000L + i)
    val srcs = Array.fill(docs)(s"src${sz.draw(r)}")
    val texts = Array.tabulate(docs) { i =>
      val t = Array.fill(40 + r.nextInt(81))(words(wz.draw(r))).mkString(" ")
      dig.add(s"${ids(i)}|${srcs(i)}|$t")
      t
    }
    Corpus(ids, srcs, texts, dig.hex)
  }

  // ------------------------------------------------------ stream_sessions

  /** Event files for the open-loop stream. File k holds events whose
    * times fall in [k, k+1) × `fileSpanMs`, so files arriving in order
    * never carry an event behind a watermark wider than one file span.
    * Users are Zipf-skewed: hot users stay in one long session, the
    * tail forms short ones. */
  final case class Events(
      files: Array[Array[(Long, Long, Double)]], digest: String) {
    def total: Long = files.map(_.length.toLong).sum
  }

  val StreamBaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  val FileSpanMs = 10000L

  def events(seed: Long, files: Int, perFile: Int, users: Int): Events = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val uz = new Zipf(users, 1.1)
    val dig = new Digest
    val out = Array.tabulate(files) { f =>
      Array.fill(perFile) {
        val e = (uz.draw(r).toLong,
          StreamBaseMs + f * FileSpanMs + r.nextLong(FileSpanMs),
          (r.nextInt(100000) / 100.0))
        dig.add(s"$f|${e._1}|${e._2}|${e._3}")
        e
      }
    }
    Events(out, dig.hex)
  }
}
