package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to materialize: every persist, cache, local checkpoint and
  * unpersist in the library goes through `operators/Guard.scala`
  * (`Guard.pin`/`Guard.unpin`), so lifetimes are managed in one place.
  */
class MaterializeLintSpec extends AnyFunSuite {

  private val call = """\.(persist\(|cache\(\)|localCheckpoint\(|unpersist\()""".r

  /** The code part of a line: comment lines and trailing `//` comments
    * dropped.
    */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
    else line.split("//", 2)(0)
  }

  test("no code line outside operators/Guard.scala persists, caches, checkpoints or unpersists") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val guard = Paths.get("graft", "operators", "Guard.scala")
    val files = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && !f.endsWith(guard)).toList
    assert(files.size > 50)
    val hits = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(code(line)).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("materialize only via Guard.pin/unpin:\n", "\n", ""))
  }
}
