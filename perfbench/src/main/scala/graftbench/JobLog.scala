package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Records every Spark job with its job group (the benchmark's op id), its
  * `spark.job.description` (the program's `graft:` label) and its stages'
  * task metrics. Registered only for traced runs. */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new Job(prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time, e.stageIds)
    e.stageIds.foreach(id => stages.getOrElseUpdate(id, new Stage))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new Stage)
    st.tasks += 1
    st.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.bytesOut += m.outputMetrics.bytesWritten
    }
  }

  def jobsOf(group: String): Seq[Job] = synchronized {
    jobs.values.filter(_.group == group).toSeq
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.tasks > 0)
  }
}

object JobLog {
  final class Stage {
    var tasks = 0
    var shuffleWrite = 0L
    var spill = 0L
    var bytesOut = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  final class Job(val group: String, val desc: String,
                  val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }
}

/** Spark-side totals of one op. */
final case class SparkCounts(jobs: Int, stages: Int, tasks: Int,
                             shuffleWrite: Long, spill: Long, bytesOut: Long,
                             skew: Double)

object SparkCounts {
  /** Task skew of a stage is its max task time over its median task time
    * (DS2's straggler signal); an op reports its worst stage among those
    * with at least four tasks, or 1 when it has none. */
  def of(log: JobLog, js: Seq[JobLog.Job]): SparkCounts = {
    val st = log.stagesOf(js)
    val skews = st.filter(_.taskMs.size >= 4).map { s =>
      val sorted = s.taskMs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }
    SparkCounts(js.size, st.size, st.map(_.tasks).sum,
      st.map(_.shuffleWrite).sum, st.map(_.spill).sum, st.map(_.bytesOut).sum,
      if (skews.isEmpty) 1.0 else skews.max)
  }
}
