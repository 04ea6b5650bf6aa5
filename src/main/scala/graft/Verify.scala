package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — names restrict the dump
    // to those queries (local iteration); no names = all (driver mode)
    val (sfDir, outDir, only) = args.toSeq match {
      case Seq(s, o, rest @ _*) => (s, o, rest.toSet)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [queryName ...]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    // write timestamps as TIMESTAMP_MICROS: the driver's pyarrow read
    // of INT96 yields timestamp[ns], but DuckDB emits timestamp[us]
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .toSeq.sortBy(_._1)
    val failed = ran.flatMap { case (name, fn) =>
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of what was DECLARED vs what CRASHED, so downstream checks
    // (tools/selfcheck.py) can fail loudly when a query silently falls
    // out of the artifact — r8 shipped 89 correctness rows for 90
    // declared queries and nothing noticed until the judge did.
    val manifest = s"""{"declared": ${ran.map(r => q(r._1)).mkString("[", ",", "]")}, """ +
      s""""failed": ${failed.map { case (k, m) => s"${q(k)}: ${q(m)}" }.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(s"$outDir/_manifest.json"), manifest)
    // Exit 0 even on per-query failure: the driver's artifact for the 89
    // surviving queries is worth more than a clean rc. The loud gates are
    // the manifest consumers: tools/selfcheck.py (exits non-zero on any
    // declared-but-missing query) and GateQueriesSpec (sbt test).
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.map(_._1).mkString(", ")}")
    spark.stop()
    // Opt-in strict mode for callers WITHOUT the selfcheck/manifest
    // path: any declared-query failure → non-zero exit.
    if (failed.nonEmpty && sys.env.get("GRAFT_VERIFY_STRICT").exists(v => v == "1" || v.equalsIgnoreCase("true")))
      sys.exit(1)
  }
}
