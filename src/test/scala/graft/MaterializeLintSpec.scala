package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source rules for `src/main/scala`, one walk shared by all:
  *
  *   - one way to materialize: every persist, cache, local checkpoint
  *     and unpersist in the library goes through `operators/Guard.scala`
  *     (`Guard.pin`/`Guard.unpin`), so lifetimes are managed in one place;
  *   - one fixture frame: the nation key frame is built only by
  *     `Q.nationKeys` (`queries/Q.scala`);
  *   - typed plan assertions: no gate in `queries/` matches on
  *     `executedPlan.toString`, whose shape is not a stable API.
  */
class MaterializeLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** The code part of a line: comment lines and trailing `//` comments
    * dropped.
    */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
    else line.split("//", 2)(0)
  }

  /** Every code line matching `rule` in the `.scala` files under
    * `src/main/scala` that `scope` admits, as `file:line: text`; more
    * than `minFiles` files must be admitted.
    */
  private def hits(rule: Regex, minFiles: Int)(scope: Path => Boolean): List[String] = {
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && scope(root.relativize(f))).toList
    assert(files.size > minFiles)
    files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if rule.findFirstIn(code(line)).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
  }

  test("no code line outside operators/Guard.scala persists, caches, checkpoints or unpersists") {
    val call = """\.(persist\(|cache\(\)|localCheckpoint\(|unpersist\()""".r
    val guard = Paths.get("graft", "operators", "Guard.scala")
    val found = hits(call, 50)(_ != guard)
    assert(found.isEmpty, found.mkString("materialize only via Guard.pin/unpin:\n", "\n", ""))
  }

  test("no code line outside queries/Q.scala builds the nation key frame by hand") {
    val key = """col\("n_nationkey"\)\.cast\("long"\)""".r
    val q = Paths.get("graft", "queries", "Q.scala")
    val found = hits(key, 50)(_ != q)
    assert(found.isEmpty, found.mkString("build fixture keys with Q.nationKeys:\n", "\n", ""))
  }

  test("no gate in queries/ asserts on executedPlan.toString") {
    val found = hits("""executedPlan\.toString""".r, 10)(
      _.startsWith(Paths.get("graft", "queries")))
    assert(found.isEmpty, found.mkString("assert plans through Q's typed checks:\n", "\n", ""))
  }
}
