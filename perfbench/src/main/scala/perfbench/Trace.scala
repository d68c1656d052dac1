package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans recorded around the benchmark's own calls into the pipeline's
  * layers: name, start, end, parent and run id, kept in memory and
  * written out once when the run ends. Off until [[enabled]] is set, so an
  * untraced run records nothing.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toList).map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Task-level roll-up per benchmark label. The label is the
  * `perfbench.layer` local property in force when a job starts; stages
  * inherit it from their job.
  */
class LayerListener extends SparkListener {
  final case class Roll(
      var bytesRead: Long = 0,
      var shuffleWrite: Long = 0,
      var spill: Long = 0,
      stageTasks: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty,
      shuffleReadStages: mutable.Set[Int] = mutable.Set.empty)

  private val stageLabel = mutable.Map.empty[Int, String]
  val rolls: mutable.Map[String, Roll] = mutable.Map.empty

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    val label = Option(job.properties).flatMap(p => Option(p.getProperty(LayerListener.Key)))
    label.foreach(l => job.stageIds.foreach(stageLabel(_) = l))
  }

  override def onTaskEnd(task: SparkListenerTaskEnd): Unit = synchronized {
    for (label <- stageLabel.get(task.stageId); m <- Option(task.taskMetrics)) {
      val r = rolls.getOrElseUpdate(label, Roll())
      r.bytesRead += m.inputMetrics.bytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.stageTasks.getOrElseUpdate(task.stageId, mutable.ArrayBuffer.empty) += task.taskInfo.duration
      if (m.shuffleReadMetrics.recordsRead > 0) r.shuffleReadStages += task.stageId
    }
  }

  /** Slowest over median task time, for the worst shuffle-reading stage. */
  def skew(label: String): Double =
    rolls.get(label).map { r =>
      val ratios = r.shuffleReadStages.toSeq.flatMap(r.stageTasks.get).map { ts =>
        val s = ts.sorted
        val med = s(s.size / 2).max(1L)
        s.last.toDouble / med
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }.getOrElse(1.0)
}

object LayerListener {
  val Key = "perfbench.layer"
}
