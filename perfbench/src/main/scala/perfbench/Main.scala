package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured run of one workload.
  *
  * Usage: perfbench.Main <workload> <data_dir> <work_dir> <seconds> <trace 0|1> <cores>
  *
  * Builds the workload's state (several times, timing each), runs the
  * closed loop for `seconds`, then checks every result outside the
  * timed intervals. Writes `<work_dir>/jvm_result.json`; run.py adds the
  * DuckDB oracle checks and prints the final line. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, seconds, trace, cores) = args
    val tMain = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spark = graft.Engine.session(
      master = s"local[$cores]", appName = s"perfbench-$workload",
      shufflePartitions = Some(cores.toInt))
    val run = new Run(spark, new File(data), new File(work), seconds.toDouble, trace == "1")
    // run.py generates the inputs while Spark starts; sizes.json comes last
    val ready = new File(data, "sizes.json")
    val giveUp = System.nanoTime() + 120e9.toLong
    while (!ready.exists && System.nanoTime() < giveUp) Thread.sleep(50)
    require(ready.exists, s"no inputs at $data")
    val w: Workload = workload match {
      case "serve" => new Serve(run)
      case "batch" => new Batch(run)
      case other => sys.error(s"unknown workload $other")
    }
    val sessionS = since(tMain)
    val setups = (1 to w.setupReps).map(i => run.timed(w.setup(i)))
    val warmS = run.timed(w.warmUp())
    run.trace.startWindow()
    val stamp0 = Contention.read()
    val t0 = System.nanoTime()
    w.measure()
    val wall = (System.nanoTime() - t0) / 1e9
    run.trace.endWindow()
    val steal = Contention.since(stamp0)
    val tCheck = System.nanoTime()
    w.check()
    val checkS = since(tCheck)
    val layers = run.trace.summary(Spans.all) ++ w.layerCounts()
    val json = Json.obj(
      "workload" -> workload,
      "setup_s" -> Json.arr(setups),
      "wall_s" -> wall,
      "phase_s" -> Json.obj("session" -> sessionS, "setup" -> setups.sum, "warm" -> warmS,
        "measure" -> wall, "check" -> checkS),
      "ops" -> Json.arr(run.ops.toSeq.map(_.json)),
      "checks" -> Json.arr(run.checks.toSeq.map { case (n, ok, d) =>
        Json.obj("name" -> n, "ok" -> ok, "detail" -> d) }),
      "oracle" -> Json.arr(run.oracle.toSeq.map { case (n, dir, out, op) =>
        Json.obj("name" -> n, "dir" -> dir, "out" -> out, "op" -> op,
          "sql" -> graft.SparkEntry.oracleSql(n)) }),
      "rows" -> Json.obj(run.rows.toSeq.map { case (k, v) => k -> (v: Any) }: _*),
      "extra" -> Json.obj(run.extra.toSeq.map { case (k, v) => k -> (v: Any) }: _*),
      "contention" -> Json.obj(steal.toSeq.map { case (k, v) => k -> (v: Any) }: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*),
      "untagged_sites" -> Json.obj(run.trace.untagged.toSeq.map { case (k, v) => k -> (v: Any) }: _*))
    Files.write(Paths.get(work, "jvm_result.json"), json.json.getBytes("UTF-8"))
    spark.stop()
  }
}

object Run {
  /** Runs the bodies on fresh threads (which inherit the caller's span
    * tag) and waits for all; the first failure is rethrown. */
  def par(bodies: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = bodies.map { b =>
      val t = new Thread(() => try b() catch { case e: Throwable => errs.add(e): Unit })
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errs.peek()).foreach(e => throw e)
  }
}

/** Per-run state shared by a workload and the harness. */
final class Run(val spark: SparkSession, val data: File, val work: File,
    val seconds: Double, traced: Boolean) {
  val trace = new Trace(spark.sparkContext, traced)
  val ops = mutable.ArrayBuffer.empty[Op]
  /** (check name, passed, detail) — every check outside the timed window. */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** (query name, input dir, output dir, op index) for run.py's DuckDB
    * oracle pass; a mismatch fails the op at that index of [[ops]]. */
  val oracle = mutable.ArrayBuffer.empty[(String, String, String, Int)]
  /** Row counts the measured ops consumed or committed, by kind. */
  val rows = mutable.LinkedHashMap.empty[String, Long]
  /** Workload-specific scalars for the result (e.g. the read phase's length). */
  val extra = mutable.LinkedHashMap.empty[String, Double]

  def path(rel: String): String = new File(data, rel).getAbsolutePath
  def workPath(rel: String): String = new File(work, rel).getAbsolutePath

  def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def addRows(kind: String, n: Long): Unit = synchronized {
    rows(kind) = rows.getOrElse(kind, 0L) + n
  }

  /** Times `body` as one op of kind `kind`; a throw is a failed op. */
  def op(kind: String)(body: => Unit): Op = {
    val t = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    }
    val o = Op(kind, t, System.nanoTime(), ok)
    synchronized { ops += o }
    o
  }

  def oracleCheck(name: String, dir: String, out: String, o: Op): Unit = synchronized {
    oracle += ((name, dir, out, ops.indexOf(o)))
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = synchronized {
    if (!ok) System.err.println(s"[perfbench] check $name FAILED $detail")
    checks += ((name, ok, detail))
  }
}

final case class Op(kind: String, startNs: Long, endNs: Long, ok: Boolean) {
  @volatile var checked: Boolean = true
  def ms: Double = (endNs - startNs) / 1e6
  def json: Json.Raw = Json.obj("kind" -> kind, "ms" -> ms, "ok" -> (ok && checked))
}

trait Workload {
  /** Set-up repetitions per run; their median is `setup_s`. */
  def setupReps: Int = 3
  /** Builds the state the measured loop uses, from scratch (rep `i`
    * writes to fresh directories; the last rep's state is measured). */
  def setup(i: Int): Unit
  /** Untimed first touch of the measured state (cache fill, JIT). */
  def warmUp(): Unit
  def measure(): Unit
  def check(): Unit
  /** Store-state counts read from outside after the window. */
  def layerCounts(): Map[String, Double]
}

/** The span names the traced run reports, one per public call site. */
object Spans {
  val all: Seq[String] = Seq(
    "plans.group_entities", "plans.entity_get", "plans.counter",
    "dedup_index.query", "dedup_index.append", "dedup_index.maintain",
    "ann.ivf_query", "ann.pq_query", "ann.append", "ann.maintain",
    "llm.pretrain", "queries.report")
}

/** CPU steal and foreign-CPU share over the measured window, from
  * /proc/stat (steal = hypervisor-stolen ticks; foreign = busy ticks not
  * spent by this process), plus the time of a fixed single-thread loop at
  * both ends of the window: on a shared host whose cores slow down
  * without reporting steal, the loop time is what gives the run away. */
object Contention {
  final case class Stamp(total: Long, steal: Long, busy: Long, self: Long, probeMs: Double)

  /** Milliseconds for a fixed 50M-step integer loop on one core. */
  def probe(): Double = {
    val t = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println() // keeps the loop live
    (System.nanoTime() - t) / 1e6
  }

  def read(): Stamp = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val cpu = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
    // user nice system idle iowait irq softirq steal ...
    val idle = cpu(3) + cpu(4)
    val total = cpu.take(8).sum
    val s = scala.io.Source.fromFile("/proc/self/stat")
    val self = try {
      val fields = s.mkString.split("\\) ")(1).split(" ")
      fields(11).toLong + fields(12).toLong // utime + stime, after pid/comm
    } finally s.close()
    Stamp(total, cpu(7), total - idle - cpu(7), self, probe())
  }

  def since(a: Stamp): Map[String, Double] = {
    val b = read()
    val dt = math.max(1L, b.total - a.total).toDouble
    Map(
      "steal_pct" -> 100.0 * (b.steal - a.steal) / dt,
      "foreign_cpu_pct" -> 100.0 * math.max(0L, (b.busy - a.busy) - (b.self - a.self)) / dt,
      "cpu_probe_ms" -> (a.probeMs + b.probeMs) / 2)
  }
}

/** Minimal JSON writer (no dependency beyond the Spark classpath). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  /** Already-serialized JSON. */
  final case class Raw(json: String) { override def toString: String = json }

  def value(v: Any): String = v match {
    case r: Raw => r.json
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => arr(xs).json
    case other => str(String.valueOf(other))
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
}
