package graft.transform

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** W1 — contiguous sequential id assignment
  * (`core/utils/data_core.py:169-171`): new ids must be dense
  * `start, start+1, …, start+n-1` in a caller-specified order.
  *
  * Scale design: a global `row_number()` window collapses to ONE partition
  * — a non-starter at 100 TB. Instead: range-partition by the ordering key
  * (so partitions are globally ordered), count rows per partition (cheap
  * first pass), prefix-sum the counts on the driver (#partitions longs),
  * then attach `offset(p) + local_index` per partition. Two passes over the
  * data, zero skew, no single-partition stage.
  *
  * The sorted RDD is persisted (MEMORY_AND_DISK_SER) across the two passes
  * and unpersisted in a finally: range-partitioner boundaries come from a
  * runtime sample, so recomputing the lineage between passes could shift
  * rows across partitions and break contiguity — the persist is a
  * correctness anchor, not a cache nicety. At extreme scale, swap for a
  * checkpoint to cheap storage; the pass structure is unchanged.
  * `monotonically_increasing_id` is NOT used — it is non-contiguous by
  * design and would break reference parity.
  */
object Ids {

  /** Partition count for the two-pass rank shuffle: AT LEAST the
    * cluster width. The input's own partition count is a floor, not a
    * cap — a narrow input (one parquet split after a pruned scan, a
    * single-file table) would otherwise serialize the range sort AND
    * every upstream expression it drags along onto one task (the sf10
    * probe measured exactly that: a 500k-row quality-scoring chain
    * evaluating on 1 of 32 threads for minutes). Ranks are a pure
    * function of the sort key, so the width never changes results.
    * The input's width is the plan-side estimate: `df.rdd` would run
    * every upstream shuffle stage now, and the rank pass again. */
  private def rankWidth(df: DataFrame): Int =
    math.max(graft.engine.Engine.planWidth(
        df.queryExecution.optimizedPlan, df.sparkSession).getOrElse(0L),
      df.sparkSession.sparkContext.defaultParallelism.toLong).toInt.max(1)

  def assignContiguousIds(df: DataFrame, orderCol: Column,
                          idName: String = "new_id",
                          start: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val n = rankWidth(df)
    val sorted = df.repartitionByRange(n, orderCol)
      .sortWithinPartitions(orderCol)
    val rdd = sorted.rdd
    rdd.persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // Pass 1: per-partition counts → driver-side prefix sums (tiny:
      // #partitions longs; rows are only counted, never collected).
      val counts = rdd
        .mapPartitionsWithIndex { (i, it) =>
          var c = 0L; while (it.hasNext) { it.next(); c += 1 }
          Iterator((i, c))
        }
        .collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(start)(_ + _)
      // Pass 2: attach offset + local index.
      val withId = rdd.mapPartitionsWithIndex { (i, it) =>
        var j = 0L
        it.map { r =>
          val id = offsets(i) + j; j += 1
          Row.fromSeq(r.toSeq :+ id)
        }
      }
      val schema = StructType(sorted.schema.fields :+
        StructField(idName, LongType, nullable = false))
      // localCheckpoint (eager): materializes the ids while the persisted
      // parent is alive AND truncates lineage, so a later action can never
      // re-sample the range partitioner and shift ids. Unlike `.cache()`
      // (which pins a full table copy in the CacheManager until explicitly
      // unpersisted — a session-lifetime leak at 100 TB), checkpoint blocks
      // are released by the ContextCleaner as soon as the returned frame is
      // garbage-collected. At extreme scale swap for checkpoint-to-storage;
      // the pass structure is unchanged.
      spark.createDataFrame(withId, schema).localCheckpoint(eager = true)
    } finally rdd.unpersist(blocking = false)
  }

  /** PER-GROUP dense ranks without a per-group window — the mega-group-
    * safe form of `row_number().over(partitionBy(group))`, which sends
    * every row of a group to ONE task (real web corpora are domain-
    * skewed; one domain can be a double-digit share of the corpus).
    *
    * Same two-pass shape as [[assignContiguousIds]], generalized:
    * range-partition by `(group, orderCols…)` (so each group occupies a
    * CONTIGUOUS run of partitions and big groups SPAN many), count rows
    * per (partition, group) — a #partitions + #groups sized relation,
    * never a driver map — turn those into per-group prefix offsets with
    * a window over the tiny counts table (partitioned by group, at most
    * #partitions rows per key), and attach `offset + local index` in one
    * more partition-local pass. Appends `rankName` (1-based, dense in
    * rank-of-(orderCols) order, long) and `countName` (group size,
    * long).
    *
    * Both derived frames are eagerly localCheckpoint-ed while the sorted
    * RDD is pinned (the [[assignContiguousIds]] correctness anchor: the
    * range partitioner samples at runtime, so recomputing lineage after
    * unpersist could shift rows across partitions and desync the counts
    * from the indices). Null group keys rank like any other key. */
  def assignGroupedRanks(df: DataFrame, groupCol: String,
                         orderCols: Seq[Column],
                         rankName: String = "grp_rank",
                         countName: String = "n_group"): DataFrame = {
    val spark = df.sparkSession
    val n = rankWidth(df)
    val gi = df.schema.fieldIndex(groupCol)
    val sortKeys = col(groupCol) +: orderCols
    val sorted = df.repartitionByRange(n, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
    val rdd = sorted.rdd
    rdd.persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val gType = df.schema(groupCol).dataType
      // Pass 1: (partition, group, count) — rows arrive group-contiguous
      val cntRows = rdd.mapPartitionsWithIndex { (i, it) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var cur: Any = null; var c = 0L; var any = false
        while (it.hasNext) {
          val g = it.next().get(gi)
          if (any && java.util.Objects.equals(g, cur)) c += 1
          else {
            if (any) out += Row(i, cur, c)
            cur = g; c = 1L; any = true
          }
        }
        if (any) out += Row(i, cur, c)
        out.iterator
      }
      val cntSchema = StructType(Seq(
        StructField("_p", org.apache.spark.sql.types.IntegerType, false),
        StructField("_g", gType, true),
        StructField("_c", LongType, false)))
      val cnts = spark.createDataFrame(cntRows, cntSchema)
        .localCheckpoint(eager = true)
      // Pass 2: attach (partition, 1-based local index within the
      // group's run inside this partition)
      val withIdx = rdd.mapPartitionsWithIndex { (i, it) =>
        var cur: Any = null; var j = 0L; var any = false
        it.map { r =>
          val g = r.get(gi)
          if (any && java.util.Objects.equals(g, cur)) j += 1
          else { cur = g; j = 1L; any = true }
          // Seq[Any]: Seq(i, j) would WIDEN the Int partition index to
          // Long and break the IntegerType row encoder
          Row.fromSeq(r.toSeq ++ Seq[Any](i, j))
        }
      }
      val idxSchema = StructType(sorted.schema.fields ++ Seq(
        StructField("_p", org.apache.spark.sql.types.IntegerType, false),
        StructField("_j", LongType, false)))
      val idxDf = spark.createDataFrame(withIdx, idxSchema)
        .localCheckpoint(eager = true)
      // per-group prefix offsets: a window over the COUNTS relation only
      // (≤ #partitions rows per group key — never corpus-sized)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_g")).orderBy(col("_p"))
      val off = cnts
        .withColumn("_off", org.apache.spark.sql.functions.sum(col("_c"))
          .over(w) - col("_c"))
        .withColumn(countName, org.apache.spark.sql.functions.sum(col("_c"))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("_g"))))
        .select(col("_p"), col("_g"), col("_off"), col(countName))
      idxDf.join(off,
          idxDf("_p") === off("_p") && (idxDf(groupCol) <=> off("_g")),
          "inner")
        .withColumn(rankName, col("_off") + col("_j"))
        .drop("_p", "_g", "_off", "_j")
    } finally rdd.unpersist(blocking = false)
  }

  /** Reference composition (`data_core.py:169`): continue ids after the
    * current max of an existing id column. */
  def appendIdsAfterMax(existing: DataFrame, newRows: DataFrame,
                        idCol: String, orderCol: Column): DataFrame = {
    val maxId = existing.agg(org.apache.spark.sql.functions.max(col(idCol)))
      .collect()(0) match {
        case r if r.isNullAt(0) => -1L
        case r => r.getLong(0)
      }
    assignContiguousIds(newRows, orderCol, idCol + "_new", maxId + 1)
  }
}
