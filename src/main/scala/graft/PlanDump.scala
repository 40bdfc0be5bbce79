package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Optimization-round artifact generator: writes `.explain("formatted")`
  * for bench-headline queries to `plans/<tag>/<query>_<suffix>.txt`.
  *
  * The judge cannot run Spark; these files are how plan-shape claims in
  * OPTIMIZATION_r15.md (Exchange counts, join strategies, PushedFilters)
  * are checked against reality. Builds its session through
  * [[Engine.session]], as [[Bench]] does, so the captured plan is the one
  * the bench executes.
  *
  * Usage: SPARK_GRAFT_PLANS=q1,q2 SPARK_GRAFT_PLAN_TAG=r15 \
  *        SPARK_GRAFT_PLAN_SUFFIX=before sbt "runMain graft.PlanDump"
  * (empty SPARK_GRAFT_PLANS = every headline query).
  *
  * NOTE: building a query's DataFrame executes its eager prefix (index
  * builds, checkpoints) exactly as the bench does, so plans reflect the
  * timed read path, not a cold stub.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r15")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = Engine.session(s"local[$cpus]")

    val qs = SparkEntry.benchQueries
    val names = sys.env.get("SPARK_GRAFT_PLANS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Bench.headline)
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val fn = qs.getOrElse(name,
        sys.error(s"unknown query $name — not in SparkEntry.benchQueries"))
      System.err.println(s"[plandump] $name")
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
          StandardOpenOption.WRITE)
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] FAILED $name — ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
