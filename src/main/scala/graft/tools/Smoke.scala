package graft.tools

import graft.GraftSession

/** Drives the driver-contract surfaces end-to-end: `SparkEntry.entry`
  * (smoke: rows > 0 at sf0.001) and each named query (non-empty plan +
  * execution). Usage: runMain graft.tools.Smoke [sfDir]
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.forMain("WARN")

    val e = graft.SparkEntry.entry(spark)
    println(s"ENTRY rows=${e.count()}")
    e.show(5, false)

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      println(s"QUERY $name rows=$n")
    }
    spark.stop()
  }
}
