package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Spark listener for the traced runs: per stage, the task count, executor
  * time, max and median task time, shuffle read/write, memory and disk
  * spill, GC time, and which cached RDDs its tasks wrote (with their
  * memory + disk size). Block statuses reach the task metrics only when the
  * JVM runs with `spark.taskMetrics.trackUpdatedBlockStatuses=true`.
  *
  * Events arrive on Spark's listener thread; readers call [[quiesce]]
  * first and then read under the same lock. */
final class Collector extends SparkListener {

  final class StageRec(val id: Int) {
    var name = ""
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var memorySpillBytes = 0L
    var diskSpillBytes = 0L
    var gcMs = 0L
    /** rdd id -> bytes of its blocks cached by this stage's tasks */
    val cached = mutable.Map.empty[Int, Long]
    def busyMs: Long = taskMs.sum
    def medianMs: Long = {
      val s = taskMs.sorted
      if (s.isEmpty) 0L else s(s.length / 2)
    }
  }

  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private var jobs = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; touch()
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val info = sc.stageInfo
    stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
      new StageRec(info.stageId)).name = info.name
    touch()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((te.stageId, te.stageAttemptId), new StageRec(te.stageId))
    val m = te.taskMetrics
    s.taskMs += te.taskInfo.duration
    if (m != null) {
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.memorySpillBytes += m.memoryBytesSpilled
      s.diskSpillBytes += m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      m.updatedBlockStatuses.foreach {
        case (RDDBlockId(rdd, _), st) =>
          s.cached(rdd) = s.cached.getOrElse(rdd, 0L) + st.memSize + st.diskSize
        case _ =>
      }
    }
    touch()
  }

  def reset(): Unit = synchronized { stages.clear(); jobs = 0 }

  /** Waits until no listener event has arrived for 200 ms (at most 5 s),
    * so the stages of the jobs that just ended are all recorded. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    Thread.sleep(50)
    while (System.nanoTime() - lastEventNs < 200000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  /** Engine-wide figures over everything recorded since [[reset]]. */
  def sparkMetrics(cores: Int, wallSeconds: Double, gcSeconds: Double): Map[String, Double] =
    synchronized {
      val all = stages.values.toSeq
      val busyMs = all.map(_.busyMs).sum
      // skew of the stages that carry real work (2%+ of the busy time): a
      // 3-task stage of 2 ms with one 10 ms straggler sets nothing
      val heavy = all.filter(s => s.taskMs.length >= 2 && s.busyMs * 50 >= busyMs)
      val skew = heavy.filter(_.medianMs > 0)
        .map(s => s.taskMs.max.toDouble / s.medianMs).maxOption.getOrElse(1.0)
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.tasks" -> all.map(_.taskMs.length).sum.toDouble,
        "spark.busy_core_s" -> busyMs / 1e3,
        "spark.core_util" -> (if (wallSeconds > 0) busyMs / 1e3 / (cores * wallSeconds) else 0.0),
        "spark.task_skew" -> skew,
        "spark.shuffle_mb" -> all.map(s => s.shuffleReadBytes + s.shuffleWriteBytes).sum / Mib,
        "spark.spill_mb" -> all.map(_.diskSpillBytes).sum / Mib,
        "spark.gc_s" -> gcSeconds)
    }

  /** Busy seconds of the stages whose tasks cached blocks of the given
    * RDDs: for the persisted KG pass, the stages that compute it. */
  def cachingStagesSeconds(rddIds: Set[Int]): Double = synchronized {
    stages.values.filter(_.cached.keySet.exists(rddIds.contains)).map(_.busyMs).sum / 1e3
  }

  /** One line per stage, for the record written next to the spans. */
  def stageLines: Seq[String] = synchronized {
    stages.values.toSeq.map { s =>
      s"""{"stage":${s.id},"name":${Json.str(s.name)},"tasks":${s.taskMs.length},""" +
        s""""busy_ms":${s.busyMs},"max_ms":${s.taskMs.maxOption.getOrElse(0L)},""" +
        s""""median_ms":${s.medianMs},"shuffle_read":${s.shuffleReadBytes},""" +
        s""""shuffle_write":${s.shuffleWriteBytes},"spill_mem":${s.memorySpillBytes},""" +
        s""""spill_disk":${s.diskSpillBytes},"gc_ms":${s.gcMs},""" +
        s""""cached":{${s.cached.map { case (r, b) => s""""$r":$b""" }.mkString(",")}}}"""
    }
  }

  private val Mib = 1024.0 * 1024.0
}
