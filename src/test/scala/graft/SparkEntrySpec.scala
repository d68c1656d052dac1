package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The mains that take query names check them once, through
  * `SparkEntry.named`, before a session starts: a mistyped name fails
  * the run and names itself, instead of dumping nothing or failing
  * mid-run.
  */
class SparkEntrySpec extends AnyFunSuite {

  private val known = SparkEntry.queries.keys.toSeq.sorted.take(2)

  test("SparkEntry.named keeps the list's order and repeats") {
    val (a, b) = (known(0), known(1))
    assert(SparkEntry.named(Seq(b, a, b)).map(_._1) == Seq(b, a, b))
  }

  test("SparkEntry.named rejects unknown names, naming each") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.named(known ++ Seq("q_typo", "q_other", "q_typo")))
    assert(e.getMessage.endsWith("unknown queries: q_typo, q_other"), e.getMessage)
  }

  test("Verify, Explain and Bench fail on a mistyped query name before writing anything") {
    val dir = Files.createTempDirectory("graft_names")
    val out = dir.resolve("out")
    val e = intercept[IllegalArgumentException](
      Verify.main(Array(dir.toString, out.toString, s"${known.head},q_typo")))
    assert(e.getMessage.contains("q_typo"))
    assert(!Files.exists(out), "Verify wrote output for a mistyped name")
    assert(intercept[IllegalArgumentException](
      tools.Explain.main(Array(dir.toString, "q_typo"))).getMessage.contains("q_typo"))
    assert(intercept[IllegalArgumentException](
      Bench.main(Array(s"q_typo,${known.head}"))).getMessage.contains("q_typo"))
    Files.delete(dir)
  }
}
