package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-runtime counts attributed to the benchmark's phases. Events
  * arrive on Spark's listener bus after the fact, so each job is
  * attributed by its submission time to the phase that was current
  * then; read the totals only after the SparkContext has stopped
  * (stopping drains the bus).
  */
final class SparkCounters extends SparkListener {
  import SparkCounters.Acc

  private val phases = mutable.ArrayBuffer[(Long, String)]()
  private val acc = new ConcurrentHashMap[String, Acc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentHashMap[Int, SparkCounters.Job]()

  /** Starts a phase; jobs submitted from now on count towards it. */
  def phase(name: String): Unit = phases.synchronized {
    val now = System.currentTimeMillis()
    if (!phases.exists(_._2 == name))
      System.err.println(f"[perfbench] ${(now - t0) / 1e3}%.2fs phase $name")
    phases += ((now, name))
  }
  private val t0 = System.currentTimeMillis()

  private def phaseAt(t: Long): String = phases.synchronized {
    phases.reverseIterator.find(_._1 <= t).map(_._2).getOrElse("none")
  }

  def totals(phase: String): Acc = acc.getOrDefault(phase, new Acc)

  private def accOf(phase: String): Acc = acc.computeIfAbsent(phase, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = phaseAt(e.time)
    jobs.put(e.jobId, new SparkCounters.Job(p, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    accOf(p).synchronized(accOf(p).jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(jobs.get(stageJob.getOrDefault(e.stageId, -1)))
    val a = accOf(job.map(_.phase).getOrElse("none"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    job.foreach(j => j.synchronized {
      j.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    })
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      val wall = e.time - j.start
      val covered = j.synchronized(SparkCounters.unionMs(j.intervals.toSeq))
      val a = accOf(j.phase)
      a.synchronized(a.waitMs += math.max(0L, wall - covered))
    }
}

object SparkCounters {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    /** Job wall time not covered by any running task of the job. */
    var waitMs = 0L
  }

  final class Job(val phase: String, val start: Long) {
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JVM-wide GC time: in local mode every task shares the driver JVM,
  * so the JVM's own counter is exact where per-task GC times overlap.
  */
object Gc {
  def totalMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
