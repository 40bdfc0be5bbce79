package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side tracing. A span wraps one public engine call (and the
  * action that forces it); while it is open, the calling thread's Spark
  * local property [[Trace.Key]] names it, so every job the call launches
  * carries the span tag into `onJobStart`. The listener then attributes
  * each job, and through the job's stages each task's metrics, to the
  * span invocation that launched it.
  *
  * Spans and job records are kept in memory and summarized once, after
  * the measured window; with tracing off no property is set and no
  * listener is registered. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOwner = new ConcurrentHashMap[Int, Long]()
  private val taskAgg = new ConcurrentHashMap[Long, TaskAgg]()
  private val jobsEnded = new LongAdder
  private val untaggedJobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  @volatile private var windowStart = Long.MaxValue
  @volatile private var windowEnd = Long.MaxValue
  private def inWindow(t: Long) = t >= windowStart && t <= windowEnd

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toLong).getOrElse(Untagged)
      jobs.put(e.jobId, Job(tag, e.time))
      if (tag == Untagged && inWindow(e.time))
        untaggedJobs.add((e.time, Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("?")))
      e.stageIds.foreach(s => stageOwner.put(s, tag))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      jobsEnded.increment()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val owner: Long = stageOwner.getOrDefault(e.stageId, Untagged)
      val m = e.taskMetrics
      val a = taskAgg.computeIfAbsent(owner, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Runs `body` inside span `name` (nested spans record their parent). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = Option(sc.getLocalProperty(Key)).map(_.toLong).getOrElse(Untagged)
      val s = Span(name, parent, System.currentTimeMillis())
      spans.put(id, s)
      sc.setLocalProperty(Key, id.toString)
      try body
      finally {
        s.end = System.currentTimeMillis()
        sc.setLocalProperty(Key, if (parent == Untagged) null else parent.toString)
      }
    }

  /** Untagged jobs in the window by call site and the spans open when
    * they started (a job no span claimed, located by time), with counts. */
  def untagged: Map[String, Long] =
    untaggedJobs.asScala.toSeq.map { case (t, site) =>
      val open = spans.values.asScala.filter(s => s.start <= t && s.end >= t)
        .map(_.name).toSeq.distinct.sorted
      s"$site during [${open.mkString(",")}]"
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  /** Only spans and jobs that start between these two calls are summarized. */
  def startWindow(): Unit = windowStart = System.currentTimeMillis()
  def endWindow(): Unit = windowEnd = System.currentTimeMillis()

  /** Waits until the listener bus has delivered every job end. */
  private def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobsEnded.sum() < jobs.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events of the last stage
  }

  /** Per-span-name per-call layer metrics plus `spark.untagged_jobs`. */
  def summary(names: Seq[String]): Map[String, Double] = {
    if (!enabled) return Map.empty
    drain()
    val inWin = spans.asScala.filter { case (_, s) => inWindow(s.start) }
    val winJobs = jobs.asScala.filter { case (_, j) => inWindow(j.start) }
    val jobsBySpan = winJobs.values.groupBy(_.span)
    val children = inWin.values.groupBy(_.parent)
    val out = Map.newBuilder[String, Double]
    names.foreach { name =>
      val mine = inWin.filter(_._2.name == name)
      val calls = mine.size
      def perCall(x: Double) = if (calls == 0) 0.0 else x / calls
      var self, driver = 0.0
      var nJobs, tasks = 0L
      var runMs, gcMs, shuffle, spill = 0.0
      mine.foreach { case (id, s) =>
        val dur = (s.end - s.start).toDouble
        val kids = children.getOrElse(id, Nil).map(k => (k.start, k.end))
        self += dur - covered(kids, s.start, s.end)
        val js = jobsBySpan.getOrElse(id, Nil)
        nJobs += js.size
        driver += dur - covered(js.map(j => (j.start, math.max(j.start, j.end))), s.start, s.end)
        Option(taskAgg.get(id)).foreach { a =>
          tasks += a.tasks; runMs += a.runMs; gcMs += a.gcMs
          shuffle += a.shuffleBytes; spill += a.spillBytes
        }
      }
      out += s"$name.self_s" -> perCall(self / 1000)
      out += s"$name.driver_s" -> perCall(driver / 1000)
      out += s"$name.jobs" -> perCall(nJobs.toDouble)
      out += s"$name.tasks" -> perCall(tasks.toDouble)
      out += s"$name.task_s" -> perCall(runMs / 1000)
      out += s"$name.gc_ms" -> perCall(gcMs)
      out += s"$name.shuffle_mb" -> perCall(shuffle / MB)
      out += s"$name.spill_mb" -> perCall(spill / MB)
    }
    out += "spark.untagged_jobs" -> winJobs.values.count(_.span == Untagged).toDouble
    out.result()
  }
}

object Trace {
  val Key = "perfbench.span"
  private val Untagged = -1L
  private val MB = 1024.0 * 1024.0

  private final case class Span(name: String, parent: Long, start: Long) {
    @volatile var end: Long = start
  }
  private final case class Job(span: Long, start: Long) {
    @volatile var end: Long = start
  }
  private final class TaskAgg {
    var tasks = 0L
    var runMs, gcMs, shuffleBytes, spillBytes = 0.0
  }

  /** Length of the part of [lo, hi] covered by the union of `iv`. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total.toDouble
  }
}
