package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Dev utility (guide §1): per-JOB wall-clock breakdown of a single
  * SparkEntry query — which of the many actions inside a lifecycle
  * fixture actually costs the seconds. One warmup run, one profiled run
  * against the noop sink; prints each job's duration, task count and
  * callsite/description plus the un-jobbed driver gap (time between the
  * query's start/end not covered by any running job — driver-side
  * planning, listing, collect post-processing).
  */
object JobProfile {

  private final case class J(id: Int, t0: Long, var t1: Long,
                             name: String, nTasks: Int, execId: String,
                             var runMs: Long = 0L, var cpuMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpus, "JobProfile")
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val execDesc = mutable.HashMap.empty[String, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            jobs.synchronized { execDesc(s.executionId.toString) = s.description }
          case _ =>
        }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val p = Option(js.properties)
          val name = p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
            .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse("")
          js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
          val execId = p.flatMap(x =>
            Option(x.getProperty("spark.sql.execution.root.id"))
              .orElse(Option(x.getProperty("spark.sql.execution.id"))))
            .getOrElse("-")
          jobs(js.jobId) =
            J(js.jobId, js.time, js.time, name,
              js.stageInfos.map(_.numTasks).sum, execId)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(je.jobId).foreach(_.t1 = je.time)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          for {
            jid <- stageToJob.get(sc.stageInfo.stageId)
            j <- jobs.get(jid)
          } {
            j.runMs += sc.stageInfo.taskMetrics.executorRunTime
            j.cpuMs += sc.stageInfo.taskMetrics.executorCpuTime / 1000000L
          }
        }
    }
    args.foreach { q =>
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save() // warmup (codegen/JIT)
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // let the listener bus drain before reading the map
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.synchronized(jobs.values.toVector)
      val jobSum = js.map(j => j.t1 - j.t0).sum / 1000.0
      // driver gap: wall minus the union of job intervals (overlapping
      // concurrent jobs counted once)
      val iv = js.map(j => (j.t0, j.t1)).sortBy(_._1)
      var covered = 0L
      var hi = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > hi) { covered += b - a; hi = b }
        else if (b > hi) { covered += b - hi; hi = b }
      }
      println(f"PROFILE $q wall=$wall%.2f njobs=${js.size} " +
        f"jobsum=$jobSum%.2f covered=${covered / 1000.0}%.2f " +
        f"drivergap=${wall - covered / 1000.0}%.2f " +
        f"cpusum=${js.map(_.cpuMs).sum / 1000.0}%.2f " +
        f"runsum=${js.map(_.runMs).sum / 1000.0}%.2f")
      val descs = jobs.synchronized(execDesc.toMap)
      // top driver gaps: idle stretches between a job's end and the next
      // job's start — names the action whose PLANNING/driver work fills it
      val byStart = js.sortBy(_.t0)
      val gaps = byStart.sliding(2).collect {
        case Vector(a, b) if b.t0 > a.t1 => (b.t0 - a.t1, b)
      }.toVector.sortBy(-_._1).take(12)
      gaps.foreach { case (g, j) =>
        val owner = descs.getOrElse(j.execId, j.name)
        println(f"  GAP ${g / 1000.0}%7.3f s before job=${j.id}%5d " +
          f"exec=${j.execId}%4s  ${owner.take(120)}")
      }
      js.sortBy(j => -(j.t1 - j.t0)).take(60).foreach { j =>
        val owner = descs.getOrElse(j.execId, j.name)
        println(f"  ${(j.t1 - j.t0) / 1000.0}%8.3f s  job=${j.id}%5d " +
          f"tasks=${j.nTasks}%5d run=${j.runMs / 1000.0}%7.2f " +
          f"cpu=${j.cpuMs / 1000.0}%7.2f exec=${j.execId}%4s  ${owner.take(120)}")
      }
    }
    spark.stop()
  }
}
