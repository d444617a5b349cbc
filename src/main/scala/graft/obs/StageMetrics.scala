package graft.obs

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/**
 * Scoped executor accounting: the Spark jobs one block of driver code runs,
 * their stages, and the task metrics Spark sums per stage.
 *
 * [[measure]] tags the calling thread with a scope id (a Spark local
 * property, so broadcast and AQE sub-jobs submitted on its behalf carry it
 * too) and registers one listener that charges only the jobs carrying that
 * id: jobs other threads run in the meantime are not counted. When the block
 * returns, the listener bus is drained so the report is complete, and the
 * listener is removed, also when the block throws. A nested scope's jobs are
 * charged to it alone, not to the enclosing one. Usage:
 * `val (rows, report) = StageMetrics.measure(spark)(df.count())`.
 */
object StageMetrics {

  /** Task metrics summed over stages. Times in seconds. */
  final case class Cost(cpuS: Double = 0, runS: Double = 0, gcS: Double = 0,
      fetchWaitS: Double = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, tasks: Long = 0) {
    def +(o: Cost): Cost = Cost(cpuS + o.cpuS, runS + o.runS, gcS + o.gcS,
      fetchWaitS + o.fetchWaitS, shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes, tasks + o.tasks)
  }

  final case class Stage(id: Int, name: String, wallS: Double, cost: Cost)

  /** `name` is the call site of the job's result stage. */
  final case class Job(id: Int, name: String, wallS: Double, stages: Int)

  /** One scope: its driver wall time and every job and completed stage it
    * ran, in id order. */
  final case class Report(wallS: Double, jobs: Seq[Job], stages: Seq[Stage]) {
    lazy val total: Cost = stages.map(_.cost).foldLeft(Cost())(_ + _)

    /** One line per job and per stage whose wall is at least 0.1 s;
      * [[total]] covers the rest. */
    def breakdown: Seq[String] =
      jobs.filter(_.wallS >= BreakdownMinWallS).map(j =>
        f"[job]   id=${j.id}%4d wall=${j.wallS}%6.2f s stages=${j.stages}%3d ${j.name}") ++
      stages.filter(_.wallS >= BreakdownMinWallS).map { s =>
        val c = s.cost
        f"[stage] id=${s.id}%4d wall=${s.wallS}%6.2f s tasks=${c.tasks}%4d " +
          f"cpu=${c.cpuS}%7.2f run=${c.runS}%7.2f gc=${c.gcS}%5.2f " +
          f"fetchWait=${c.fetchWaitS}%5.2f shWrite=${c.shuffleWriteBytes / 1e6}%7.1fMB " +
          f"spill=${c.spillBytes / 1e6}%6.1fMB ${s.name}"
      }
  }

  private val BreakdownMinWallS = 0.1
  private val ScopeKey = "graft.obs.scope"
  private val scopes = new AtomicLong()

  /** Runs `body` and returns its result with the report of the jobs it ran.
    * The wall time stops when `body` returns, before the drain. */
  def measure[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val listener = new ScopeListener(scopes.incrementAndGet().toString)
    val outer = sc.getLocalProperty(ScopeKey)
    sc.addSparkListener(listener)
    sc.setLocalProperty(ScopeKey, listener.scope)
    try {
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(sc)
      (result, listener.report(wallS))
    } finally {
      sc.setLocalProperty(ScopeKey, outer)
      sc.removeSparkListener(listener)
    }
  }

  private final class ScopeListener(val scope: String) extends SparkListener {
    private val started = mutable.Map[Int, (Long, String, Int)]()
    private val stageIds = mutable.Set[Int]()
    private val jobs = mutable.ArrayBuffer[Job]()
    private val stages = mutable.ArrayBuffer[Stage]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(ScopeKey) == scope)) {
        val name = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
        started(e.jobId) = (e.time, name, e.stageIds.size)
        stageIds ++= e.stageIds
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, name, n) =>
        jobs += Job(e.jobId, name, (e.time - t0) / 1e3, n)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      if (stageIds.contains(i.stageId)) {
        val wallS = (for (s <- i.submissionTime; c <- i.completionTime)
          yield (c - s) / 1e3).getOrElse(0.0)
        val m = i.taskMetrics
        stages += Stage(i.stageId, i.name, wallS, Cost(m.executorCpuTime / 1e9,
          m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.shuffleReadMetrics.fetchWaitTime / 1e3,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, i.numTasks))
      }
    }

    def report(wallS: Double): Report = synchronized {
      Report(wallS, jobs.sortBy(_.id).toSeq, stages.sortBy(_.id).toSeq)
    }
  }
}
