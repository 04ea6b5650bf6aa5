package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.{Files, Path}

/** PGP encryption/decryption of a binary column (reference
  * `PgpContext.java:102-220` + `Pipeline.groovy:1182-1241`
  * encryptPgp/decryptPgp).
  *
  * The reference uses BouncyCastle; this implementation drives the
  * system GnuPG binary instead — hand-rolled OpenPGP packet crypto is
  * the one part of an engine that should NOT be reimplemented, and gpg
  * is the interoperability reference everything else tests against.
  * Each partition stages the configured keyrings into a private
  * throwaway GNUPGHOME once, then pipes each row's payload through one
  * gpg process (`--encrypt`/`--decrypt` over stdin/stdout, no
  * plaintext ever on disk); the home is removed when the task
  * completes. Payload-per-row matches the reference's stream-per-row
  * model — the unit of work is a file-sized blob, not a tiny cell, so
  * the process spawn amortizes.
  *
  * Parity notes: AES-256 with integrity protection is gpg's default
  * (the reference's explicit choice); `asciiArmor` maps to `-a`;
  * recipients select public keys like the reference's identities;
  * decryption uses the secret keyring + passphrase (loopback
  * pinentry). Failures (bad key, wrong passphrase, corrupt packet)
  * throw with gpg's stderr attached.
  */
object Pgp {

  final case class PgpConfig(
      publicKeyRing: Array[Byte] = null,
      secretKeyRing: Array[Byte] = null,
      recipients: Seq[String] = Nil,
      passphrase: String = null,
      asciiArmor: Boolean = false,
      gpgBinary: String = "gpg")

  /** Encrypt `column` (binary) to the config's recipients. */
  def encrypt(df: DataFrame, column: String, config: PgpConfig): DataFrame = {
    require(config.publicKeyRing != null || config.secretKeyRing != null,
      "encrypt needs a keyring holding the recipients' public keys")
    require(config.recipients.nonEmpty, "encrypt needs at least one recipient identity")
    transformColumn(df, column, config) { (home, cfg, payload) =>
      val args = Seq(cfg.gpgBinary, "--batch", "--yes", "--quiet",
        "--trust-model", "always", "--encrypt", "--output", "-") ++
        (if (cfg.asciiArmor) Seq("--armor") else Nil) ++
        cfg.recipients.flatMap(r => Seq("--recipient", r))
      runGpg(home, args, payload)
    }
  }

  /** Decrypt `column` (binary) with the config's secret keyring. */
  def decrypt(df: DataFrame, column: String, config: PgpConfig): DataFrame = {
    require(config.secretKeyRing != null, "decrypt needs a secret keyring")
    transformColumn(df, column, config) { (home, cfg, payload) =>
      // the passphrase travels via a 0600 file inside the private
      // GNUPGHOME (staged once per partition), never on the command
      // line — /proc/<pid>/cmdline is world-readable on shared hosts
      val args = Seq(cfg.gpgBinary, "--batch", "--yes", "--quiet",
        "--pinentry-mode", "loopback") ++
        (if (cfg.passphrase != null)
          Seq("--passphrase-file", home.resolve(PassphraseFile).toString)
        else Nil) ++
        Seq("--decrypt", "--output", "-")
      runGpg(home, args, payload)
    }
  }

  // ------------------------------------------------------------ plumbing

  private def transformColumn(
      df: DataFrame, column: String, config: PgpConfig)(
      run: (Path, PgpConfig, Array[Byte]) => Array[Byte]): DataFrame = {
    val idx = df.schema.fieldIndex(column)
    require(df.schema(idx).dataType == BinaryType,
      s"$column must be a binary column (got ${df.schema(idx).dataType.simpleString})")
    val schema = StructType(df.schema.map {
      case f if f.name == column => StructField(f.name, BinaryType, nullable = f.nullable)
      case f => f
    })
    val cfg = config
    df.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val home = stageHome(cfg)
        rows.map { r =>
          val payload = r.getAs[Array[Byte]](idx)
          val out = if (payload == null) null else run(home, cfg, payload)
          Row.fromSeq(r.toSeq.updated(idx, out))
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  private val PassphraseFile = "graft-passphrase"

  /** Fresh GNUPGHOME with the configured keyrings imported; removed on
    * task completion (or JVM exit outside a task). */
  private def stageHome(cfg: PgpConfig): Path = {
    val home = Files.createTempDirectory("graft-gnupg")
    home.toFile.setReadable(false, false); home.toFile.setExecutable(false, false)
    home.toFile.setReadable(true, true); home.toFile.setWritable(true, true)
    home.toFile.setExecutable(true, true)
    def imp(ring: Array[Byte]): Unit =
      runGpg(home, Seq(cfg.gpgBinary, "--batch", "--quiet", "--import"), ring)
    Option(cfg.publicKeyRing).foreach(imp)
    Option(cfg.secretKeyRing).foreach(imp)
    if (cfg.passphrase != null) {
      val pp = home.resolve(PassphraseFile)
      Files.write(pp, cfg.passphrase.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      pp.toFile.setReadable(false, false); pp.toFile.setWritable(false, false)
      pp.toFile.setReadable(true, true); pp.toFile.setWritable(true, true)
    }
    Option(org.apache.spark.TaskContext.get()) match {
      case Some(tc) => tc.addTaskCompletionListener[Unit](_ => tearDownHome(home))
      case None => Runtime.getRuntime.addShutdownHook(new Thread(() => tearDownHome(home)))
    }
    home
  }

  /** Kill the per-home gpg-agent, then remove the home. gpg auto-spawns
    * one agent per GNUPGHOME and the agent outlives the gpg process
    * (holding 2 inotify instances each) — without the kill, repeated
    * runs exhaust the kernel's per-user inotify-instance limit and
    * unrelated tools (sbt's file watcher, editors) start failing. */
  private[graft] def tearDownHome(home: Path): Unit = {
    try {
      val pb = new ProcessBuilder("gpgconf", "--kill", "gpg-agent")
      pb.environment().put("GNUPGHOME", home.toString)
      val p = pb.start()
      p.getOutputStream.close()
      if (!p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly()
    } catch { case _: Exception => () } // best-effort; home removal below still runs
    deleteRecursively(home)
  }

  // one recursive-delete implementation for the whole library — a
  // future fix (symlinks, retries) must not need applying twice
  private def deleteRecursively(p: Path): Unit =
    graft.sources.Ssh.deleteRecursivelyNow(p)

  /** One gpg invocation: payload on stdin, result from stdout; throws
    * with stderr on a non-zero exit. */
  private def runGpg(home: Path, args: Seq[String], input: Array[Byte]): Array[Byte] = {
    val pb = new ProcessBuilder(args: _*)
    pb.environment().put("GNUPGHOME", home.toString)
    val proc = pb.start()
    val writer = new Thread(() => {
      try { proc.getOutputStream.write(input); proc.getOutputStream.close() }
      catch { case _: java.io.IOException => () } // process died first; exit code tells
    })
    writer.setDaemon(true)
    writer.start()
    // drain stderr concurrently with stdout — gpg blocks if it fills
    // the ~64KB stderr pipe while we are still reading stdout
    val errBytes = new java.util.concurrent.atomic.AtomicReference[Array[Byte]](Array.empty)
    val errReader = new Thread(() => {
      try errBytes.set(proc.getErrorStream.readAllBytes())
      catch { case _: java.io.IOException => () }
    })
    errReader.setDaemon(true)
    errReader.start()
    val out = proc.getInputStream.readAllBytes()
    val code = proc.waitFor()
    writer.join()
    errReader.join()
    val err = new String(errBytes.get())
    if (code != 0)
      throw new RuntimeException(s"gpg exited $code: ${err.trim} (${args.mkString(" ")})")
    out
  }
}
