package perfbench

import graft.SparkEntry
import graft.operators.LlmQueries
import graft.plans.PlanPipeline

/** `batch`: the throughput side, one pass at a time. A pass is three
  * timed stages, each writing parquet that run.py checks against the
  * engine's DuckDB oracle SQL:
  *   - `report`: the relational rows of `graft.Bench`'s headline,
  *     each row a timed op of its own;
  *   - `refresh`: the plan-group entity materialization
  *     (PlanPipeline.groupEntities over seeded plans and groups);
  *   - `pretrain`: the composed pretraining pipeline (l28). */
final class Batch(run: Run) extends Workload {
  import run.spark
  import Batch._

  private val refreshIn = run.path("refresh")
  private val pretrainIn = run.path("pretrain")
  private val reportIn = run.path("report")
  /** Input rows each stage reads, as the generator recorded them. */
  private val stageRows: Map[String, Long] = scala.io.Source
    .fromFile(run.path("stage_rows.txt")).getLines()
    .map(_.split(" ")).map(a => a(0) -> a(1).toLong).toMap

  /** Opens every input table and reads its row count (footer metadata):
    * the state a pass starts from is its inputs. */
  def setup(i: Int): Unit = run.trace.span("setup") {
    val tables = Seq(refreshIn, pretrainIn, reportIn).flatMap { d =>
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath)
    }
    Run.par(tables.map(t => () => { spark.read.parquet(t).count(); () }): _*)
  }

  /** None: a nightly batch job starts in a fresh process and pays its cold
    * start every run. */
  def warmUp(): Unit = ()

  /** The report rows run first: they meet the process's cold start and
    * take the median of 13 rows, where a cold row or two is not the
    * middle. The two single-op stages then run on warm code. */
  private def pass(p: Int): Unit = {
    val out = run.workPath(s"pass_$p")
    // one span for the stage, one timed op per report row
    val qs = run.trace.span("queries.report") {
      ReportRows.map { n =>
        val q = run.op("report") {
          SparkEntry.queries(n)(spark, reportIn).write.parquet(s"$out/report/$n")
        }
        run.oracleCheck(n, reportIn, s"$out/report/$n", q)
        q
      }
    }
    if (qs.forall(_.ok)) run.addRows("report_rows", stageRows("report"))
    val r = run.op("refresh") {
      run.trace.span("plans.group_entities") {
        PlanPipeline.groupEntities(
          PlanPipeline.plansFrom(spark.read.parquet(s"$refreshIn/nation.parquet")),
          PlanPipeline.groupsFrom(spark.read.parquet(s"$refreshIn/supplier.parquet")))
          .write.parquet(s"$out/refresh")
      }
    }
    run.oracleCheck("m3_plan_group_entities", refreshIn, s"$out/refresh", r)
    if (r.ok) run.addRows("groups", stageRows("refresh"))
    val t = run.op("pretrain") {
      run.trace.span("llm.pretrain") {
        LlmQueries.l28PipelineNearDup.run(spark, pretrainIn).write.parquet(s"$out/pretrain")
      }
    }
    run.oracleCheck("l28_pretrain_neardup", pretrainIn, s"$out/pretrain", t)
    if (t.ok) run.addRows("pretrain_docs", stageRows("pretrain"))
  }

  def measure(): Unit = {
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    var p = 0
    while (p == 0 || System.nanoTime() < deadline) {
      pass(p)
      p += 1
    }
  }

  // every output is checked by run.py against SparkEntry.oracleSql
  def check(): Unit = ()

  def layerCounts(): Map[String, Double] = Stores.counts()
}

object Batch {
  /** The relational rows of graft.Bench.headline the `report` stage runs. */
  val ReportRows: Seq[String] = Seq(
    "d1_q1_pricing", "c2_left_join", "c7_broadcast_join", "c8_theta_join",
    "c10_asof_join", "c11_multi_join", "c13_skew_join", "d7_collect_nested",
    "e3_frames", "f2_topk_per_group", "s3_session_window",
    "s7_interval_join_replay", "m6_scd2_history")
}
