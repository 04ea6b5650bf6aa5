package graft.ops

import graft.etl.Pipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** PGP verb specs. A throwaway RSA keypair is generated with the
  * system gpg; the interop test decrypts a graft-encrypted cell with
  * the gpg CLI directly, proving the output is real OpenPGP and not
  * merely round-trippable. Skipped when no gpg binary exists. */
class PgpSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pgp-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def haveGpg: Boolean =
    try { new ProcessBuilder("gpg", "--version").start().waitFor() == 0 }
    catch { case _: java.io.IOException => false }

  private var home: Path = _
  private var pubRing: Array[Byte] = _
  private var secRing: Array[Byte] = _

  private def gpg(args: String*): Array[Byte] = {
    val pb = new ProcessBuilder(("gpg" +: args): _*)
    pb.environment().put("GNUPGHOME", home.toString)
    val p = pb.start()
    p.getOutputStream.close()
    val out = p.getInputStream.readAllBytes()
    val err = new String(p.getErrorStream.readAllBytes())
    assert(p.waitFor() == 0, s"gpg $args failed: $err")
    out
  }

  override def beforeAll(): Unit = if (haveGpg) {
    home = Files.createTempDirectory("graft-pgp-spec")
    home.toFile.setExecutable(true, true)
    val params = Files.createTempFile(home, "genkey", ".txt")
    Files.writeString(params,
      """%no-protection
        |Key-Type: RSA
        |Key-Length: 2048
        |Name-Real: Graft Spec
        |Name-Email: spec@graft.test
        |Expire-Date: 0
        |%commit
        |""".stripMargin)
    gpg("--batch", "--gen-key", params.toString)
    pubRing = gpg("--batch", "--export", "--armor", "spec@graft.test")
    secRing = gpg("--batch", "--export-secret-keys", "--armor", "spec@graft.test")
  }

  // the spec's home spawned a gpg-agent: stop it and remove the home
  override def afterAll(): Unit = if (home != null) Pgp.tearDownHome(home)

  test("encryptPgp/decryptPgp round-trip a binary column") {
    assume(haveGpg)
    import spark.implicits._
    val df = Seq(("a", "attack at dawn"), ("b", "retreat at dusk"))
      .toDF("id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val enc = Pipeline.of(df)
      .encryptPgp("payload", Pgp.PgpConfig(
        publicKeyRing = pubRing, recipients = Seq("spec@graft.test")))
      .toDF
    val encRows = enc.collect()
    // ciphertext differs from plaintext and per-row (fresh session keys)
    encRows.foreach { r =>
      val ct = r.getAs[Array[Byte]]("payload")
      assert(!new String(ct, StandardCharsets.ISO_8859_1).contains("attack"))
    }

    val dec = Pipeline.of(enc)
      .decryptPgp("payload", Pgp.PgpConfig(secretKeyRing = secRing))
      .toDF
      .withColumn("text2", decode(col("payload"), "UTF-8"))
    val back = dec.select("id", "text2").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("a" -> "attack at dawn", "b" -> "retreat at dusk"))
  }

  test("graft ciphertext is real OpenPGP: the gpg CLI decrypts it") {
    assume(haveGpg)
    import spark.implicits._
    val df = Seq(("x", "interop proof")).toDF("id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val ct = Pipeline.of(df)
      .encryptPgp("payload", Pgp.PgpConfig(
        publicKeyRing = pubRing, recipients = Seq("spec@graft.test")))
      .toDF.head().getAs[Array[Byte]]("payload")
    val ctFile = Files.createTempFile(home, "cell", ".gpg")
    Files.write(ctFile, ct)
    val plain = new String(gpg("--batch", "--quiet", "--decrypt", ctFile.toString),
      StandardCharsets.UTF_8)
    assert(plain == "interop proof")
  }

  test("asciiArmor produces an armored PGP message") {
    assume(haveGpg)
    import spark.implicits._
    val df = Seq(("x", "armored")).toDF("id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val ct = Pipeline.of(df)
      .encryptPgp("payload", Pgp.PgpConfig(
        publicKeyRing = pubRing, recipients = Seq("spec@graft.test"), asciiArmor = true))
      .toDF.head().getAs[Array[Byte]]("payload")
    assert(new String(ct, StandardCharsets.US_ASCII).startsWith("-----BEGIN PGP MESSAGE-----"))
  }

  test("passphrase-protected key: decrypt via the 0600 passphrase file, " +
    "wrong passphrase fails") {
    assume(haveGpg)
    import spark.implicits._
    val params = Files.createTempFile(home, "genkey-locked", ".txt")
    Files.writeString(params,
      """Key-Type: RSA
        |Key-Length: 2048
        |Name-Real: Graft Locked
        |Name-Email: locked@graft.test
        |Expire-Date: 0
        |Passphrase: s3cret-spin
        |%commit
        |""".stripMargin)
    gpg("--batch", "--gen-key", params.toString)
    val pub2 = gpg("--batch", "--export", "--armor", "locked@graft.test")
    val sec2 = gpg("--batch", "--pinentry-mode", "loopback",
      "--passphrase", "s3cret-spin",
      "--export-secret-keys", "--armor", "locked@graft.test")

    val df = Seq(("a", "locked payload")).toDF("id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val enc = Pipeline.of(df)
      .encryptPgp("payload", Pgp.PgpConfig(
        publicKeyRing = pub2, recipients = Seq("locked@graft.test")))
      .toDF
    val back = Pipeline.of(enc)
      .decryptPgp("payload", Pgp.PgpConfig(
        secretKeyRing = sec2, passphrase = "s3cret-spin"))
      .toDF.withColumn("text2", decode(col("payload"), "UTF-8"))
      .select("text2").head().getString(0)
    assert(back == "locked payload")

    val e = intercept[Exception] {
      Pipeline.of(enc)
        .decryptPgp("payload", Pgp.PgpConfig(
          secretKeyRing = sec2, passphrase = "not-it"))
        .toDF.collect()
    }
    assert(e.getMessage.contains("gpg") || e.getCause != null)
  }

  test("wrong keyring fails loudly with gpg's stderr") {
    assume(haveGpg)
    import spark.implicits._
    val df = Seq(("x", "secret")).toDF("id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val enc = Pipeline.of(df)
      .encryptPgp("payload", Pgp.PgpConfig(
        publicKeyRing = pubRing, recipients = Seq("spec@graft.test")))
      .toDF
    val e = intercept[Exception] {
      Pipeline.of(enc)
        .decryptPgp("payload", Pgp.PgpConfig(secretKeyRing = pubRing)) // no secret key
        .toDF.collect()
    }
    assert(e.getMessage.contains("gpg") || e.getCause != null)
  }
}
