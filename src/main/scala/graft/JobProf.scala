package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}

/** Optimization-round profiler: run ONE bench query N times with a
  * listener that logs every Spark job's wall time, stage/task counts and
  * shuffle bytes — the measure-first tool for queries whose cost hides
  * in eager prefixes (index builds, checkpoints, driver loops) where a
  * plan dump shows nothing. Gaps between jobs are DRIVER time (planning,
  * collects, single-threaded loops) — printed explicitly because at
  * local scale they are routinely the real cost (guide §7.3).
  *
  * Usage: SPARK_GRAFT_PROF=l59_dedup_groups_incremental \
  *        SPARK_GRAFT_PROF_REPS=3 sbt "runMain graft.JobProf"
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val name = sys.env.getOrElse("SPARK_GRAFT_PROF",
      sys.error("set SPARK_GRAFT_PROF to a bench query name"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "3").toInt
    val spark = Engine.session(s"local[$cpus]")

    case class J(id: Int, start: Long, var end: Long = 0L,
                 var desc: String = "", var stages: Int = 0,
                 var tasks: Int = 0, var shufRead: Long = 0L,
                 var shufWrite: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId, e.time)
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        j.stages = e.stageInfos.size
        jobs.put(e.jobId, j); order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        // attribute to the most recent unfinished job (local mode runs
        // bench queries serially, so this is unambiguous)
        val openIds = order.toArray(Array.empty[Integer])
          .filter(id => jobs.get(id).end == 0L)
        val tgt = if (openIds.nonEmpty) jobs.get(openIds.last) else null
        if (tgt != null) {
          tgt.tasks += si.numTasks
          tgt.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          tgt.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    })

    val fn = SparkEntry.benchQueries.getOrElse(name,
      sys.error(s"unknown query $name"))
    (1 to reps).foreach { rep =>
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener events drain
      println(f"== $name rep $rep: $dt%.3f s, ${order.size} jobs")
      var prevEnd = 0L
      order.forEach { id =>
        val j = jobs.get(id)
        val gap = if (prevEnd > 0) j.start - prevEnd else 0L
        prevEnd = j.end
        val w = (j.end - j.start) / 1e3
        println(f"  job ${j.id}%4d ${w}%7.2f s gapBefore=${gap / 1e3}%6.2f s " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
          f"shufR=${j.shufRead / 1048576.0}%8.2f MB shufW=${j.shufWrite / 1048576.0}%8.2f MB  ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
