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
  *     `executedPlan.toString`, whose shape is not a stable API;
  *   - no spec-only API: every public object-level `def` of the
  *     operator, streaming, source and function packages is named by
  *     some other code line of the library or of `perfbench/src` (a
  *     reference twin only a spec calls is `private[graft]`).
  */
class MaterializeLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Every `.scala` file under `dir` with its lines. */
  private def scalaFiles(dir: Path): List[(Path, Seq[String])] = {
    assert(Files.isDirectory(dir), s"run from the project root: $dir")
    Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f -> Files.readAllLines(f).asScala.toSeq).toList
  }

  private lazy val library = scalaFiles(root)

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
    val files = library.filter { case (f, _) => scope(root.relativize(f)) }
    assert(files.size > minFiles)
    files.flatMap { case (f, lines) =>
      lines.zipWithIndex.collect {
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

  test("every public def of operators/, streaming/, sources/ and functions/ has a non-spec caller") {
    val packages = Seq("operators", "streaming", "sources", "functions").map(Paths.get("graft", _))
    val defLine = """^  def ([A-Za-z_]\w*)""".r
    val defs = for {
      (f, lines) <- library if packages.exists(p => root.relativize(f).startsWith(p))
      (line, i) <- lines.zipWithIndex
      m <- defLine.findPrefixMatchOf(line)
    } yield (m.group(1), s"$f:${i + 1}")
    assert(defs.size > 100)
    // a name is used where a code line names it other than as `def name`;
    // matching is by name, so a name another def shares can slip past
    val token = """(def\s+)?([A-Za-z_]\w*)""".r
    val used = (library ++ scalaFiles(Paths.get("perfbench/src"))).iterator
      .flatMap { case (_, lines) => lines }
      .flatMap(line => token.findAllMatchIn(code(line)).filter(_.group(1) == null).map(_.group(2)))
      .toSet
    val found = defs.collect { case (name, at) if !used(name) => s"$at: $name" }
    assert(found.isEmpty, found.mkString(
      "only a spec calls these: delete them, or make a reference twin private[graft]:\n", "\n", ""))
  }
}
