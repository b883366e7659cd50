package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Tiers
import graft.functions.Functions

/** J1 + exact dedup (SURVEY §2.4, §2.10).
  *
  * The reference's only join-shaped op: build the set of existing ids from
  * the sink, append only rows whose id is absent
  * (`core/utils/sheets_core.py:163-177`). Expressed as a left-anti join;
  * the existing-ids side is the small one (a sheet tops out at 100k rows)
  * so it is broadcast — no shuffle of the incoming data.
  */
object Dedupe {

  /** J1 — dedupe-before-append. Ids are stringified and compared after
    * TRIM-only normalization (the reference does `str(x).strip()`, no
    * lowercasing — `sheets_core.py:176`), and empty ids never match.
    *
    * The broadcast hint is size-gated on the optimizer's estimate: the
    * sheet contract tops out at 100k rows, but an unconditional broadcast
    * of an arbitrarily large existing side would OOM the driver; over the
    * tier budget the planner/AQE picks the join strategy from real sizes.
    */
  def dedupeAppend(newDf: DataFrame, existing: DataFrame,
                   idCol: String): DataFrame = {
    val existingIds = existing
      .select(trim(col(idCol).cast("string")).as("_id"))
      .filter(col("_id") =!= "" && col("_id").isNotNull).distinct()
    val dim = Tiers.broadcastIfFits(existingIds)(Tiers.planned(existingIds))
    newDf
      .withColumn("_id", trim(col(idCol).cast("string")))
      .join(dim, Seq("_id"), "left_anti")
      .drop("_id")
  }

  /** Exact dedup by key columns — `dropDuplicates` compiles to a
    * partial+final aggregate (map-side combine), one shuffle on the keys. */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Exact dedup keeping the lowest value of `keepBy` per key — useful for
    * "keep the first/oldest copy" semantics with a deterministic winner
    * (plain dropDuplicates keeps an arbitrary row). One shuffle.
    */
  def exactKeepMin(df: DataFrame, keys: Seq[String],
                   keepBy: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(keepBy))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }
}
