package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's final stdout line is read from a tail capture of the
  * last 2,000 characters: over the real query set it must fit in
  * [[Bench.MaxLineBytes]] and parse as one JSON object. */
class BenchLineSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted

  private def line(steady: Seq[Double]): String =
    Bench.finalLine(names, steady, Seq(
      "total_cold" -> "12345.678", "failed" -> "187", "cpus" -> "32",
      "load_avg_before" -> "123.456", "load_avg_after" -> "123.456",
      "cpu_anchor_ms" -> "12345.678", "cold_steady_ratio" -> "12.345",
      "contended_suspect" -> "false", "extra_sweeps" -> "1",
      "sf" -> "\"/srv/graft/testdata/sf0.1\""))

  test("the final line fits the tail capture for the whole query set, at two-digit seconds") {
    val l = line(Seq.fill(names.length)(99.999))
    val bytes = l.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(bytes <= Bench.MaxLineBytes, s"$bytes bytes for ${names.length} queries")
    assert(!l.contains('\n'))
  }

  test("the final line parses: steady values in name order, hash of the names, totals") {
    val steady = names.indices.map(i => i * 0.013)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line(steady))
    assert(json.get("n").asInt == names.length)
    val arr = json.get("steady")
    assert(arr.size == names.length)
    names.indices.foreach(i =>
      assert(math.abs(arr.get(i).asDouble - steady(i)) < 0.0051, names(i)))
    assert(json.get("names_sha256").asText == Bench.namesHash(names))
    assert(json.get("names_sha256").asText != Bench.namesHash(names.reverse))
    assert(math.abs(json.get("value").asDouble - steady.sum) < 1e-3)
    Seq("total_cold", "failed", "cpus", "cpu_anchor_ms", "load_avg_before",
      "load_avg_after", "contended_suspect", "sf").foreach(k =>
      assert(json.has(k), k))
  }
}
