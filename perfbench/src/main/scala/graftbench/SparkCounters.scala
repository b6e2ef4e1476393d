package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark-execution counters, keyed by the op that caused them.
  *
  * The benchmark runs one closed-loop client, so every job that starts
  * inside an op's wall window belongs to that op: attribution is by the
  * job's submission time, which also catches jobs graft submits from its
  * own worker threads (those do not inherit a thread-local key). Ops are
  * registered with [[window]]; [[perKey]] drains the listener bus first.
  */
final class SparkCounters private (sc: SparkContext) extends SparkListener {
  private final case class Job(start: Long, var end: Long, stages: Seq[Int])
  private final class StageAcc { var tasks = 0L; var runMs = 0L; var shuffleWrite = 0L }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val completedStages = mutable.HashSet.empty[Int]
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = Job(e.time, -1L, e.stageIds)
    jobs += j; jobById(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    completedStages += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Register an op's wall window (epoch ms, the listener events' clock). */
  def window(key: String, startMs: Long, endMs: Long): Unit = synchronized {
    windows += ((key, startMs, endMs))
  }

  /** Per-op totals for every registered window. */
  def perKey(): Seq[SparkCounters.OpStats] = {
    org.apache.spark.graftbench.ListenerDrain(sc)
    synchronized {
      windows.toSeq.map { case (key, s, e) =>
        val js = jobs.filter(j => j.start >= s && j.start <= e)
        val st = js.flatMap(_.stages).distinct
        val acc = st.flatMap(stages.get)
        // union of the job walls clipped to the window: the rest of the
        // op's wall is driver-side work between or around jobs
        val spans = js.map(j => (j.start, math.min(if (j.end < 0) e else j.end, e)))
          .sortBy(_._1)
        var covered = 0L; var reach = s
        spans.foreach { case (a, b) =>
          val lo = math.max(a, reach)
          if (b > lo) { covered += b - lo; reach = b }
        }
        SparkCounters.OpStats(key, js.size, st.count(completedStages.contains),
          acc.map(_.tasks).sum, acc.map(_.shuffleWrite).sum, acc.map(_.runMs).sum,
          (e - s) - covered)
      }
    }
  }
}

object SparkCounters {
  final case class OpStats(key: String, jobs: Int, stages: Int, tasks: Long,
      shuffleWriteBytes: Long, executorRunMs: Long, driverGapMs: Long)

  private val installed = mutable.HashMap.empty[SparkContext, SparkCounters]

  /** Install once per session: a second call returns the listener already
    * registered on this context instead of adding another. */
  def install(sc: SparkContext): SparkCounters = synchronized {
    installed.getOrElseUpdate(sc, {
      val c = new SparkCounters(sc)
      sc.addSparkListener(c)
      c
    })
  }
}
