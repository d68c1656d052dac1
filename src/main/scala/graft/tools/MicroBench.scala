package graft.tools

import graft.GraftSession

/** One-query repeat timer: `runMain graft.tools.MicroBench <query> <reps>
  * [sfDir]` — median of reps isolates a query from ambient noise.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = GraftSession.forMain("ERROR")
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"[micro] $name median=${times(times.length / 2)}%.2f min=${times.head}%.2f max=${times.last}%.2f over $reps reps")
    spark.stop()
  }
}
