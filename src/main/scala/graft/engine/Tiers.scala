package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one size gate of the tiered operators — "do these bytes fit on one
  * JVM?" — choosing between a small side (a broadcast hash relation, or
  * rows collected into JVM objects) and a result-identical distributed
  * side. Sizes are bytes in the planner's row model (8 per row plus each
  * column's `defaultSize`), never row counts: [[planned]] for frames with
  * real plan stats, [[measure]] for checkpoint-backed frames (whose stats
  * [[Engine.materialize]] strips), rows × [[rowBytes]] for relations
  * derived row-for-row from a measured frame. A size that cannot be
  * computed does not fit. */
object Tiers {

  /** The budget in bytes (default 64 MB), sized to the deployment's
    * driver and executor memory; 0 forces every distributed side and
    * `Long.MaxValue` every small side. */
  val BudgetConf = "spark.graft.tierBudgetBytes"

  /** Broadcast hash relation: the rows, per-record headers, and an index
    * of two longs per slot kept at most half full. */
  val HashRelationOverhead = 2

  /** Rows held as JVM objects (union-find maps, BPE word lists, the exact
    * percentile's value map): object headers, boxing, hash-map nodes. */
  val ObjectOverhead = 6

  private def fits(spark: SparkSession, bytes: => BigInt,
                   overhead: Int): Boolean =
    try bytes * overhead <=
      spark.conf.getOption(BudgetConf).fold(64L << 20)(_.toLong)
    catch { case NonFatal(_) => false }

  /** `df` hinted for broadcast when its size `bytes` fits the budget. */
  def broadcastIfFits(df: DataFrame)(bytes: => BigInt): DataFrame =
    if (fits(df.sparkSession, bytes, HashRelationOverhead)) broadcast(df)
    else df

  /** True when `bytes` of rows fit the budget as objects on one JVM. */
  def fitsLocal(spark: SparkSession)(bytes: => BigInt): Boolean =
    fits(spark, bytes, ObjectOverhead)

  /** The optimizer's estimate; `spark.sql.defaultSizeInBytes` (does not
    * fit) for a checkpoint-backed plan. */
  def planned(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  final case class Size(rows: Long, bytes: BigInt)

  /** Rows and bytes of `df` by one aggregate: the row count plus the
    * summed bytes of string/binary columns and elements of array columns;
    * other columns count their `defaultSize`. */
  def measure(df: DataFrame): Size = {
    val varCols = df.schema.fields.toSeq.collect {
      case f @ StructField(n, _: StringType | BinaryType, _, _) =>
        (f, octet_length(col(s"`$n`")), 1L)
      case f @ StructField(n, ArrayType(e, _), _, _) =>
        (f, when(col(s"`$n`").isNotNull, size(col(s"`$n`"))),
          e.defaultSize.toLong)
    }
    val r = df.agg(count(lit(1)),
      varCols.map(v => coalesce(sum(v._2), lit(0L))): _*).head()
    val fixed = df.schema.filterNot(f => varCols.exists(_._1 == f))
    Size(r.getLong(0), BigInt(r.getLong(0)) * rowBytes(StructType(fixed)) +
      varCols.indices.map(i => BigInt(r.getLong(i + 1)) * varCols(i)._3).sum)
  }

  /** Planner row width of `schema` (Spark's `getSizePerRow`). */
  def rowBytes(schema: StructType): Long =
    8L + schema.fields.map(_.dataType.defaultSize.toLong).sum
}
