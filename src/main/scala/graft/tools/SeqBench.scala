package graft.tools

import graft.GraftSession

/** Sequential multi-query timer for session-interaction bisection:
  * `runMain graft.tools.SeqBench <sfDir> <q1,q2,...>` runs the named
  * queries in order in ONE session (Bench's conditions) and times each —
  * isolates which predecessor slows a later query down.
  */
object SeqBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val spark = GraftSession.forMain("ERROR")
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(): Unit }
      catch { case e: Throwable => System.err.println(s"[seq] $n FAILED: ${e.getMessage}") }
      println(f"[seq] $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
