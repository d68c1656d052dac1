package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source rules for `src/main/scala` (the session rule covers
  * `src/test/scala` too), one walk shared by all:
  *
  *   - one way to materialize: every persist, cache, local checkpoint
  *     and unpersist in the library goes through `operators/Guard.scala`
  *     (`Guard.pin`/`Guard.unpin`), so lifetimes are managed in one place;
  *   - one fixture frame: the nation key frame is built only by
  *     `Q.nationKeys` (`queries/Q.scala`);
  *   - typed plan assertions: no gate in `queries/` matches on
  *     `executedPlan.toString`, whose shape is not a stable API;
  *   - one session setup: only `GraftSession.scala` builds a session,
  *     in the library and in specs, and nothing installs session
  *     extensions (graft's functions are DataFrame functions, with no
  *     SQL registry);
  *   - one Hadoop conf: graft looks file systems up only through
  *     `GraftSession.fileSystem`, over the session's Hadoop conf, so a
  *     Hadoop key set with `spark.conf.set` reaches every lookup;
  *   - one text reader: audit files are read only through
  *     `sources/AuditLines.scala`, which sets Hadoop's line reader up
  *     once per task, never through Spark's per-file `text` reader;
  *   - no spec-only API: every public object-level `def` of the
  *     operator, streaming, source and function packages is used by
  *     the library or `perfbench/src` — as `Object.name`, through an
  *     import of the object, or by name inside its own file (a
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

  private val specRoot = Paths.get("src/test/scala")

  private lazy val specs = scalaFiles(specRoot)

  /** The code part of a line: comment lines and trailing `//` comments
    * dropped.
    */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
    else line.split("//", 2)(0)
  }

  /** Every code line matching `rule` in the `.scala` files under
    * `src/main/scala` (or `src/test/scala` when `inSpecs`) that `scope`
    * admits by their path below that root, as `file:line: text`; more
    * than `minFiles` files must be admitted.
    */
  private def hits(rule: Regex, minFiles: Int, inSpecs: Boolean = false)(
      scope: Path => Boolean): List[String] = {
    val (base, all) = if (inSpecs) (specRoot, specs) else (root, library)
    val files = all.filter { case (f, _) => scope(base.relativize(f)) }
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

  test("no code line outside GraftSession.scala builds a session, and none sets session extensions") {
    val session = Paths.get("graft", "GraftSession.scala")
    // specs too: the shared spec session is built on GraftSession.builder,
    // so specs run with the settings fixed at session creation
    val lint = Paths.get("graft", "MaterializeLintSpec.scala")
    val found = Seq(false, true).flatMap { inSpecs =>
      hits(Regex.quote("SparkSession.builder").r, 50, inSpecs)(p => p != session && p != lint) ++
        hits(Regex.quote("spark.sql.extensions").r, 50, inSpecs)(_ != lint)
    }
    assert(found.isEmpty, found.mkString(
      "build sessions through GraftSession, with no SQL extensions:\n", "\n", ""))
  }

  test("no code line outside GraftSession.scala builds a Hadoop conf for a file system lookup") {
    val conf = """sparkContext\.hadoopConfiguration|newHadoopConf\(""".r
    val session = Paths.get("graft", "GraftSession.scala")
    val found = hits(conf, 50)(_ != session)
    assert(found.isEmpty, found.mkString(
      "look file systems up with GraftSession.fileSystem (the session's Hadoop conf):\n", "\n", ""))
  }

  test("no code line outside sources/AuditLines.scala names Spark's text reader") {
    val reader = """format\("text"\)|TextFileFormat|HadoopFileLinesReader""".r
    val lines = Paths.get("graft", "sources", "AuditLines.scala")
    val found = hits(reader, 50)(_ != lines)
    assert(found.isEmpty, found.mkString("read text through sources/AuditLines:\n", "\n", ""))
  }

  test("every public def of operators/, streaming/, sources/ and functions/ has a non-spec caller") {
    val packages = Seq("operators", "streaming", "sources", "functions").map(Paths.get("graft", _))
    val owner = """^(?:(?:final|sealed|abstract|case|private\[\w+\]) )*(object|class|trait) (\w+)""".r
    val defLine = """^  def ([A-Za-z_]\w*)""".r
    // (object or null for a class/trait member, name, file, line)
    val defs = for {
      (f, lines) <- library if packages.exists(p => root.relativize(f).startsWith(p))
      owners = lines.scanLeft(Option.empty[(String, String)])((o, line) =>
        owner.findPrefixMatchOf(line).map(m => (m.group(1), m.group(2))).orElse(o)).tail
      ((line, o), i) <- lines.zip(owners).zipWithIndex
      m <- defLine.findPrefixMatchOf(line)
    } yield (o.collect { case ("object", n) => n }.orNull, m.group(1), f, i + 1)
    assert(defs.size > 100)
    val files = library ++ scalaFiles(Paths.get("perfbench/src"))
    // names a code line uses other than as `def name`, per file
    val token = """(def\s+)?([A-Za-z_]\w*)""".r
    val bare = files.map { case (f, lines) =>
      f -> lines.flatMap(line =>
        token.findAllMatchIn(code(line)).filter(_.group(1) == null).map(_.group(2))).toSet
    }.toMap
    // `Object.name`, anywhere
    val dotted = """([A-Z]\w*)\.([A-Za-z_]\w*)""".r
    val qualified = files.iterator.flatMap(_._2)
      .flatMap(line => dotted.findAllMatchIn(code(line)))
      .map(m => (m.group(1), m.group(2))).toSet
    // `import ...Object.name`, `import ...Object.{a, b => c}` and
    // `import ...Object._`: an import counts as a use, and a wildcard
    // import makes the file's bare names uses of the object's defs
    val imported = """^import (?:[\w.]*\.)?([A-Z]\w*)\.(\w+|\{[^}]*\})""".r
    val imports = files.flatMap { case (f, lines) =>
      lines.map(_.trim).flatMap(imported.findPrefixMatchOf(_)).flatMap { m =>
        val names = m.group(2).stripPrefix("{").stripSuffix("}").split(",")
          .map(_.split("=>")(0).trim).toSeq
        names.flatMap(n => if (n == "_") bare(f).map((m.group(1), _)) else Seq((m.group(1), n)))
      }
    }.toSet
    // a class or trait member is called on an instance: its name is all
    // a line can show; `main` is the JVM's to call
    val anyFile = bare.values.flatten.toSet
    val found = defs.collect {
      case (obj, name, f, at) if name != "main" && !(
        if (obj == null) anyFile(name)
        else bare(f)(name) || qualified((obj, name)) || imports((obj, name))) =>
        s"$f:$at: ${Option(obj).fold(name)(o => s"$o.$name")}"
    }
    assert(found.isEmpty, found.mkString(
      "only a spec calls these: delete them, or make a reference twin private[graft]:\n", "\n", ""))
  }
}
