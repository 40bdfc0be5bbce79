package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** Batch-sized inputs built on the driver — the serving half of the
  * persisted stores. A probe of the dedup index or of an ANN index, and
  * an append to an ANN index, used to run the eager prefix built for a
  * corpus-sized input: a repartition, a checkpoint and one or two
  * scalar collects, each its own Spark job. For a request-sized batch
  * that prefix was most of the call (Dremel, VLDB 2020: interactive
  * latency is per-query scheduling and planning work). Below [[Floor]]
  * the batch is collected once; its signatures, band keys, cells, LUTs
  * or posting codes are computed on the driver with the same native
  * expressions the distributed path runs ([[eval]]), and the probe side
  * enters the plan as a local relation. Above the floor the sample is
  * dropped and the caller runs its distributed path unchanged — the
  * `limit(cap + 1)` branch rule of [[Dedup.incrementalComponents]]. */
private[graft] object DriverBatch {

  /** Batch rows at or below which a probe or an ANN append is built on
    * the driver. 256: the heaviest driver-built row is the PQ probe row,
    * which carries its m·ks ADC table (2 048 doubles, 16 KB at the
    * defaults) once per probed cell, so 256 queries × nprobe 4 keep the
    * probe relation near 16 MB — a broadcast every executor holds
    * comfortably. Serving batches are far below it (25 docs, 17
    * vectors); a corpus-sized query batch is far above it. */
  val Floor = 256

  private val forced = new scala.util.DynamicVariable[Option[Int]](None)

  /** Run `f` with the floor at `n` on this thread — the seam the branch
    * parity specs use to force either path (0: always distributed). */
  private[graft] def withFloor[T](n: Int)(f: => T): T = forced.withValue(Some(n))(f)

  /** `df`'s rows as a local relation when it holds at most the floor,
    * None above it. A local relation (a request payload) is its own
    * answer and runs no query; any other frame is sampled with one
    * `limit(floor + 1)` collect — one job. */
  def gather(df: DataFrame): Option[DataFrame] = {
    val floor = forced.value.getOrElse(Floor)
    df.queryExecution.analyzed match {
      case l: LocalRelation => Some(df).filter(_ => l.data.length <= floor)
      case _ =>
        val rows = df.limit(floor + 1).collect()
        if (rows.length > floor) None
        else Some(relation(df.sparkSession, rows.toSeq, df.schema))
    }
  }

  /** `cols` evaluated over the local relation `local` on the driver, with
    * their schema. The optimizer folds a projection of a local relation
    * into a new local relation (`ConvertToLocalRelation`, interpreted
    * evaluation of the same expressions), so the collect launches no
    * job. */
  def eval(local: DataFrame, cols: Column*): (Array[Row], StructType) = {
    val p = local.select(cols: _*)
    (p.collect(), p.schema)
  }

  /** Driver rows as a local relation. */
  def relation(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
