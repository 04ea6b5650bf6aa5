package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Where rows are kept is decided in one place, [[Materialize]]: no
  * other file under `src/main` persists, caches, unpersists or
  * checkpoints a frame, apart from the one truncating call on
  * connected components' star-contraction rounds. Reads source files
  * only; starts no Spark job. */
class MaterializePolicySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val call = """\.(persist|cache|unpersist|localCheckpoint)\(""".r

  /** (file under `root`, line number, line) of every call. */
  private def calls: Seq[(String, Int, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined =>
          (root.relativize(f).toString, i + 1, line.trim)
      }
    }
  }

  test("only Materialize and the connected-components rounds keep rows") {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val found = calls
    val outside = found.filterNot(_._1 == "graft/ops/Materialize.scala")
    val rounds = outside.filter(c =>
      c._1 == "graft/ops/Graph.scala" && c._3 == ".localCheckpoint(true)")
    assert(rounds.size == 1,
      s"expected the one truncating call on the Graph rounds, found ${rounds.size}")
    assert(outside.diff(rounds).isEmpty,
      "persist/cache/unpersist/localCheckpoint outside Materialize — route it " +
        "through Materialize.scoped or Materialize.eager:\n" +
        outside.diff(rounds).map { case (f, n, l) => s"  $f:$n  $l" }.mkString("\n"))
    assert(found.exists(_._1 == "graft/ops/Materialize.scala"))
  }
}
