package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Extra measurement harness (guide §1.4) — NOT the graded bench: times
  * catalog queries with the noop sink (computes every column, no count
  * pruning) and prints a per-Spark-job breakdown so iterative loops
  * (checkpoint-per-round operators) expose where the wall-clock goes.
  *
  *   runMain graft.BenchExtra <query1> [query2 ...] [reps=N]
  *
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench. Each query runs
  * one untimed warm-up rep before its N timed reps, so no timed rep
  * carries the JVM's or the query's cold start. Output lines per timed rep:
  *   JOB  <query> <rep> <jobId> <sec> <nStages> <nTasks> <desc> (jobs ≥ 0.5 s)
  *   JOBS <query> <rep> <n> (every Spark job of the rep)
  *   STAGE <query> <rep> <stageId> tasks= run= max= <name> (top stages)
  *   EXTRA <query> <rep> <sec> (noop-sink wall time)
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.find(_.startsWith("reps=")).map(_.drop(5).toInt).getOrElse(2)
    val names = args.filterNot(_.startsWith("reps="))
    val spark = Bench.buildSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    case class JobRec(id: Int, var desc: String, start: Long,
                      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    case class StageRec(id: Int, var name: String = "", var tasks: Int = 0,
                        var runMs: Long = 0L, var maxMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId, JobRec(js.jobId, d, js.time))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId); if (r != null) r.end = je.time
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        // charge the stage to the most recent job that hasn't ended; good
        // enough for a sequential driver
        val it = order.iterator()
        var last: JobRec = null
        while (it.hasNext) { val r = jobs.get(it.next()); if (r != null && r.end == 0L) last = r }
        if (last != null) { last.stages += 1; last.tasks += sc.stageInfo.numTasks }
        val s = stages.get(sc.stageInfo.stageId)
        if (s != null) s.name = sc.stageInfo.name
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val s = stages.computeIfAbsent(te.stageId, _ => StageRec(te.stageId))
        val m = te.taskMetrics
        if (m != null) {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.maxMs = math.max(s.maxMs, m.executorRunTime)
        }
      }
    })

    // plan-only probe for non-catalog building blocks
    if (args.contains("explain_edges")) {
      Queries.userGraphEdges(spark, sfDir).explain("formatted")
      spark.stop(); return
    }

    try Queries.stageCorpusArtifacts(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[extra] staging: $e") }

    def report(name: String, rep: Int, sec: Double): Unit = {
      println(s"JOBS $name $rep ${order.size}")
      val it = order.iterator()
      while (it.hasNext) {
        val r = jobs.get(it.next())
        if (r != null && (r.end - r.start) >= 500)
          println(f"JOB $name $rep ${r.id}%4d ${(r.end - r.start) / 1e3}%7.2f ${r.stages}%3d ${r.tasks}%5d ${r.desc}")
      }
      // top stages by total executor run time, with the callsite name
      import scala.jdk.CollectionConverters._
      val top = stages.values.asScala.toSeq.sortBy(-_.runMs).take(12)
      for (s <- top; if s.runMs > 200)
        println(f"STAGE $name $rep ${s.id}%4d tasks=${s.tasks}%4d run=${s.runMs / 1e3}%7.2f max=${s.maxMs / 1e3}%6.2f ${s.name.take(90)}")
      println(f"EXTRA $name $rep $sec%.3f")
    }

    // rep 0 is the untimed warm-up: it runs and is not reported
    for (name <- names; rep <- 0 to reps) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      jobs.clear(); order.clear(); stages.clear()
      spark.sparkContext.setJobDescription(s"$name rep$rep")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      Thread.sleep(200) // let listener events drain
      if (rep > 0) report(name, rep, sec)
    }
    spark.stop()
  }
}
