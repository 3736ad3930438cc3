package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Global sequential id assignment (SURVEY §2.5 W14/W15).
 *
 * The reference mints ids with `row_number()`/`rank()` over an UNPARTITIONED
 * window (/root/reference/src/cehrbert_data/utils/spark_utils.py:769-775,
 * cohorts/spark_app_base.py:507, tools/extract_features.py:104-105,
 * tools/ehrshot_to_omop.py:524-528) — which collapses the whole dataset into a
 * single shuffle partition. Fine at 1M rows; a wall at 100 TB.
 *
 * [[sequentialId]] preserves the exact semantics (dense 1..N ids in the order
 * of a caller-supplied total ordering) while staying fully parallel:
 * range-partition by the sort key, sort within partitions, then add
 * per-partition offsets computed from partition counts (one lightweight count
 * job — the classic `zipWithIndex` two-phase scheme).
 */
object IdAllocator {

  /**
   * Add `idCol` = startAt, startAt+1, ... following the total order given by
   * `order`. `order` must be a total order (include a unique tiebreaker) for
   * the ids to be deterministic.
   */
  def sequentialId(df: DataFrame, order: Seq[Column], idCol: String,
                   startAt: Long = 1L): DataFrame = {
    val spark = df.sparkSession
    // withColumn-replacement semantics: a pre-existing id column is replaced,
    // not duplicated (the reference's withColumn(idCol, row_number...) does
    // this implicitly — e.g. the first-time-outcome SQL seeds a provisional
    // cohort_member_id that the allocator must overwrite). Like the
    // reference's window, the ORDERING evaluates before the replacement, so
    // `order` may reference the old idCol values (re-numbering keyed by the
    // previous id) — the old column is carried through the sort and removed
    // from the rows only when the new id is appended.
    require(df.schema.fieldNames.count(_ == idCol) <= 1,
      s"input has multiple columns named '$idCol' — deduplicate before allocating")
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val oldIdx = sorted.schema.fieldNames.indexOf(idCol)
    val indexed: RDD[Row] = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      val kept = if (oldIdx >= 0) row.toSeq.patch(oldIdx, Nil, 1) else row.toSeq
      Row.fromSeq(kept :+ (idx + startAt))
    }
    val fields =
      if (oldIdx >= 0) sorted.schema.fields.patch(oldIdx, Nil, 1)
      else sorted.schema.fields
    val schema = StructType(fields :+ StructField(idCol, LongType, false))
    spark.createDataFrame(indexed, schema)
  }

  /**
   * The reference's literal single-partition variant, kept for small inputs
   * where an extra Spark job is not worth it (cohort tables, id re-basing).
   */
  def sequentialIdSinglePartition(df: DataFrame, order: Seq[Column], idCol: String,
                                  startAt: Long = 1L): DataFrame =
    df.withColumn(idCol,
      (row_number().over(Window.orderBy(order: _*)) + lit(startAt - 1)).cast(LongType))

  /** [[sequentialIdSinglePartition]] continuing an id range: the n-th row in
    * `order` gets n plus the max of `above` over all of `df`, in the same
    * window. The sum of row_number's int and `above` is bigint for string ids. */
  def sequentialIdAbove(df: DataFrame, order: Seq[Column], idCol: String,
                        above: Column): DataFrame = {
    val all = Window.orderBy(order: _*)
    df.withColumn(idCol, row_number().over(all) +
      max(above).over(all.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /**
   * `dense_rank().over(Window.orderBy(keys))` replacement: one sequential id
   * per DISTINCT key tuple, numbered 1..K in key sort order (identical to the
   * dense_rank mapping), computed scalably — distinct + zipWithIndex over the
   * (much smaller) key set, then a null-safe equi-join back on the keys. Two
   * shuffles on high-cardinality keys instead of one single-partition sort of
   * the full dataset.
   *
   * Rows of `df` that share a key tuple come out of the join in no fixed
   * order: adaptive execution turns the join into a broadcast join and
   * builds it on whichever input finishes first, so the order can change
   * from run to run. `broadcastKeys` fixes the plan for callers whose later
   * steps depend on that order: the key table (one row per key tuple) is
   * always the broadcast side, and `df` streams through in its own order.
   */
  def denseKeyId(df: DataFrame, keys: Seq[String], idCol: String,
                 startAt: Long = 1L, broadcastKeys: Boolean = false): DataFrame = {
    // withColumn-replacement semantics, as in sequentialId above — including
    // a key list that CONTAINS idCol (dense re-basing keyed by the old id):
    // the old column is renamed aside for the keying, then dropped.
    val clash = keys.contains(idCol)
    // collision-free scratch name: never silently shadow (or later drop) a
    // genuine input column
    val tmp = Iterator.from(0).map(i => s"__old_$idCol" + ("_" * i))
      .find(n => !df.columns.contains(n)).get
    val base =
      if (clash) df.withColumnRenamed(idCol, tmp)
      else if (df.columns.contains(idCol)) df.drop(idCol)
      else df
    val keyNames = keys.map(k => if (clash && k == idCol) tmp else k)
    val distinctKeys = base.select(keyNames.map(col): _*).distinct()
    val keyed = sequentialId(distinctKeys, keyNames.map(col), idCol, startAt)
    // collision-free rename prefix, same discipline as `tmp` above: a genuine
    // input column named "__k_<key>" must neither make the join condition
    // ambiguous nor be swept up by the final drop, and no scratch name may
    // shadow the freshly minted idCol on the keyed side
    val kPrefix = Iterator.from(0).map(i => "__k" + ("_" * (i + 1)))
      .find(p => keyNames.forall(k =>
        !base.columns.contains(p + k) && p + k != idCol)).get
    val renamed = keyNames.foldLeft(keyed)((d, k) => d.withColumnRenamed(k, kPrefix + k))
    val cond = keyNames.map(k => col(k) <=> col(kPrefix + k)).reduce(_ && _)
    val joined = base.join(if (broadcastKeys) broadcast(renamed) else renamed, cond, "inner")
      .drop(keyNames.map(kPrefix + _): _*)
    if (clash) joined.drop(tmp) else joined
  }

  /** Mint ids starting after the current maximum of `existingIds` — the
    * reference's `max(visit_occurrence_id) + rank()` pattern
    * (spark_utils.py:769-775, decorators/death_event_decorator.py:60-62).
    * The max is a scalar cross join, not a driver `collect()`. */
  def allocateAboveMax(df: DataFrame, existingIds: DataFrame, existingIdCol: String,
                       order: Seq[Column], idCol: String): DataFrame = {
    val maxDf = existingIds.agg(
      coalesce(max(col(existingIdCol)), lit(0L)).cast(LongType).as("__max_id"))
    val withMax = df.crossJoin(broadcast(maxDf))
    sequentialId(withMax, order, "__seq", 1L)
      .withColumn(idCol, col("__max_id") + col("__seq"))
      .drop("__max_id", "__seq")
  }
}
