package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan inspection: prints `.explain("formatted")` for the named queries
  * (or all, given no args past the sf dir). Usage:
  * `runMain graft.tools.Explain <sfDir> [query...]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val selected = SparkEntry.named(names)
    val spark = GraftSession.forMain("ERROR")
    selected.foreach { case (n, fn) =>
      println(s"\n===== $n =====")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
