package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Benchmark-owned listener: one record per Spark job with its job group
  * (the span that submitted it), start/end, and the summed metrics of the
  * stages that ran for it. */
final class JobRecorder extends SparkListener {
  private final class Job(val id: Int, val group: String, val t0: Long) {
    var t1 = 0L
    var stages = 0
    var tasks = 0
    var inputBytes = 0L
    var inputRows = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var runMs = 0L
    var gcMs = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = new Job(e.jobId, g.orNull, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { j =>
      j.stages += 1
      j.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
      }
    }
  }

  def toJson(json: ObjectMapper): ArrayNode = synchronized {
    val arr = json.createArrayNode()
    jobs.values.foreach { j =>
      val n = arr.addObject()
      n.put("job", j.id); n.put("group", j.group)
      n.put("t0", j.t0); n.put("t1", j.t1)
      n.put("stages", j.stages); n.put("tasks", j.tasks)
      n.put("input_bytes", j.inputBytes); n.put("input_rows", j.inputRows)
      n.put("shuffle_write", j.shuffleWrite); n.put("spill", j.spill)
      n.put("run_ms", j.runMs); n.put("gc_ms", j.gcMs)
    }
    arr
  }
}
