package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task counters per job group, gathered by a listener the benchmark
  * registers itself. The benchmark sets one job group per span, so
  * every counter can be attributed to the span that ran its job. */
final class SparkCounters extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputBytes = 0L; var inputRecords = 0L

    def +=(o: Agg): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill; inputBytes += o.inputBytes; inputRecords += o.inputRecords
    }
  }

  private val byGroup = mutable.HashMap[String, Agg]()
  private val stageGroup = mutable.HashMap[Int, String]()

  private def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }

  def group(g: String): Agg = synchronized {
    val out = new Agg
    byGroup.get(g).foreach(out += _)
    out
  }

  def total: Agg = synchronized {
    val out = new Agg
    byGroup.values.foreach(out += _)
    out
  }

  def reset(): Unit = synchronized { byGroup.clear(); stageGroup.clear() }
}
