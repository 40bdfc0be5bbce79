package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.types.StructType

/** The one sub-floor rule: an input of at most `floor` rows is finished
  * on the driver; above it the caller's distributed path runs unchanged.
  * [[rows]] decides the branch and fetches the input in one step — a
  * local relation (a request payload) is its own answer and runs no
  * query; any other frame is sampled with one `limit(floor + 1)`
  * collect, and a sample of at most `floor` rows IS the whole input
  * (the limit dropped nothing), while `floor + 1` rows means "above the
  * floor" and the sample is dropped. For a small input the distributed
  * path is mostly fixed per-job overhead (Dremel, VLDB 2020: interactive
  * latency is per-query scheduling and planning work), and the driver
  * result is the same by construction. The users and their floors:
  *
  *   - the dedup probe and the ANN probes and append ([[gather]],
  *     [[Floor]] = 256 batch rows): signatures, band keys, cells, LUTs
  *     or posting codes are computed on the driver with the same native
  *     expressions the distributed path runs ([[eval]]), and the probe
  *     side enters the plan as a local relation;
  *   - the component closure, full and incremental
  *     ([[Dedup.DriverUnionFindMaxEdges]] = 4 096 canonical edges): a
  *     min-id union-find replaces the star-contraction rounds, and a
  *     local pair relation at or under the floor closes with no job
  *     ([[localRows]]);
  *   - BPE training ([[Bpe.DriverTrainMaxWords]] = 131 072 distinct
  *     words): the merge rounds run over the collected word table. */
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

  /** Run `f` with every floor at `n` on this thread — the seam the branch
    * parity specs use to force either path (0: always distributed). */
  private[graft] def withFloor[T](n: Int)(f: => T): T = forced.withValue(Some(n))(f)

  /** `df`'s rows when it holds at most `floor` rows, None above it: no
    * job for a local relation, one `limit(floor + 1)` collect — one
    * job — for any other frame. */
  def rows(df: DataFrame, floor: Int): Option[Array[Row]] = {
    val n = forced.value.getOrElse(floor)
    local(df) match {
      case Some(l) => if (l.data.length <= n) Some(df.collect()) else None
      case None => Some(df.limit(n + 1).collect()).filter(_.length <= n)
    }
  }

  /** [[rows]] of a local relation; None, running nothing, for any other
    * frame — for a caller whose other inputs keep a path with no
    * sample. */
  def localRows(df: DataFrame, floor: Int): Option[Array[Row]] =
    local(df).flatMap(_ => rows(df, floor))

  /** The local relation `df` reads: the relation itself, or under a
    * chain of projections (`toDF(names)`, a column select), which the
    * optimizer folds into a new local relation (`ConvertToLocalRelation`),
    * so collecting it launches no job. */
  private def local(df: DataFrame): Option[LocalRelation] = {
    def walk(p: LogicalPlan): Option[LocalRelation] = p match {
      case l: LocalRelation => Some(l)
      case Project(_, child) => walk(child)
      case _ => None
    }
    walk(df.queryExecution.analyzed)
  }

  /** `df` as a local relation when it holds at most [[Floor]] rows, None
    * above it — the probe and append batches' [[rows]]. A local relation
    * is returned as it is: collecting and rebuilding it costs ~4.5 ms of
    * driver time per probe for the same rows. */
  def gather(df: DataFrame): Option[DataFrame] = df.queryExecution.analyzed match {
    case l: LocalRelation => Some(df).filter(_ => l.data.length <= forced.value.getOrElse(Floor))
    case _ => rows(df, Floor).map(rs => relation(df.sparkSession, rs.toSeq, df.schema))
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
