package graft.omop.tools

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.TimestampType

import graft.core.Checkpoints

/**
 * Three-step consolidation of fragmented visits:
 *  1. merge inpatient visits within `inpatientHourDiffThreshold` hours
 *     (gap-and-island sessionization over visit order, W13);
 *  2. fold outpatient visits that start inside an inpatient span into the
 *     inpatient master visit (temporal-overlap join, J8);
 *  3. merge remaining outpatient visits within `outpatientHourDiffThreshold`
 *     hours (same sessionization, J9).
 *
 * Reference: /root/reference/src/cehrbert_data/tools/connect_omop_visit.py:11-253.
 * Write+reload barriers kept between steps (lineage truncation; the session
 * ids feed three self-joins).
 *
 * Scale: all windows partition by person_id; the self-joins are equi-joins on
 * (person_id, visit_partition) — shuffle keys with person-level cardinality.
 */
object ConnectOmopVisits {

  final case class StepResult(visitOccurrence: DataFrame, mapping: DataFrame)

  private val InpatientIds = Seq(9201, 262)

  /** Sessionize `visitToFix` by inter-visit gap and collapse each island to
    * its earliest ("master") visit; rewrite visit_occurrence spans and drop
    * the absorbed visits. */
  def connectChronologically(visitToFix0: DataFrame, visitOccurrence: DataFrame,
                             hourDiffThreshold: Int,
                             persistence: Option[String],
                             visitName: String): StepResult = {
    def barrier(df: DataFrame, sub: String): DataFrame =
      Checkpoints.stabilityBarrier(df, persistence, s"${visitName}_$sub")

    val wOrder = Window.partitionBy("person_id").orderBy("visit_order")
    val visitToFix = barrier(visitToFix0
      .withColumn("visit_end_datetime",
        F.coalesce(col("visit_end_datetime"), col("visit_end_date").cast(TimestampType)))
      .withColumn("visit_end_datetime",
        when(col("visit_end_datetime") > col("visit_start_datetime"), col("visit_end_datetime"))
          .otherwise(col("visit_start_datetime")))
      .withColumn("visit_order",
        F.row_number().over(Window.partitionBy("person_id")
          .orderBy("visit_start_datetime", "visit_occurrence_id")))
      .withColumn("prev_visit_end_datetime", F.lag("visit_end_datetime", 1).over(wOrder))
      .withColumn("hour_diff",
        F.coalesce((F.unix_timestamp(col("visit_start_datetime")) -
          F.unix_timestamp(col("prev_visit_end_datetime"))) / 3600, lit(0)))
      .withColumn("visit_partition",
        F.sum((col("hour_diff") > hourDiffThreshold).cast("int"))
          .over(wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("is_master_visit",
        F.row_number().over(Window.partitionBy("person_id", "visit_partition")
          .orderBy("visit_order")) === 1),
      "visit_to_fix")

    val masterVisit = barrier(
      visitToFix.alias("visit")
        .join(visitToFix.where(col("is_master_visit")).alias("master"),
          col("visit.person_id") === col("master.person_id") &&
            col("visit.visit_partition") === col("master.visit_partition"))
        .groupBy(col("master.person_id").as("person_id"),
          col("master.visit_partition").as("visit_partition"),
          col("master.visit_occurrence_id").as("visit_occurrence_id"))
        .agg(F.min("visit.visit_start_date").as("visit_start_date"),
          F.min("visit.visit_start_datetime").as("visit_start_datetime"),
          F.max("visit.visit_end_date").as("visit_end_date"),
          F.max("visit.visit_end_datetime").as("visit_end_datetime")),
      "master_visit")

    val mapping = barrier(
      masterVisit.alias("master")
        .join(visitToFix.alias("visit"),
          col("master.person_id") === col("visit.person_id") &&
            col("master.visit_partition") === col("visit.visit_partition"))
        .where(col("master.visit_occurrence_id") =!= col("visit.visit_occurrence_id"))
        .select(col("master.person_id").as("person_id"),
          col("master.visit_partition").as("visit_partition"),
          col("master.visit_occurrence_id").as("master_visit_occurrence_id"),
          col("visit.visit_occurrence_id").as("visit_occurrence_id")),
      "visit_mapping")

    val columnsToUpdate = Seq("visit_occurrence_id", "visit_start_date",
      "visit_end_date", "visit_start_datetime", "visit_end_datetime")
    val otherColumns = visitOccurrence.columns.filterNot(columnsToUpdate.contains)

    val fixed = visitOccurrence.alias("visit")
      .join(masterVisit.alias("master"),
        col("master.visit_occurrence_id") === col("visit.visit_occurrence_id"), "left_outer")
      .select(
        columnsToUpdate.map(c =>
          F.coalesce(col(s"master.$c"), col(s"visit.$c")).as(c)) ++
          otherColumns.map(c => col(s"visit.$c").as(c)): _*)
      .join(mapping.select("visit_occurrence_id"), Seq("visit_occurrence_id"), "left_anti")

    StepResult(barrier(fixed, "visit_occurrence_fixed"), mapping)
  }

  private def spanColumns(df: DataFrame): DataFrame =
    df.select("person_id", "visit_occurrence_id", "visit_start_date",
      "visit_start_datetime", "visit_end_date", "visit_end_datetime")

  def step1ConsolidateInpatient(visitOccurrence: DataFrame, thresholdHours: Int,
                                persistence: Option[String]): StepResult =
    connectChronologically(
      spanColumns(visitOccurrence.where(col("visit_concept_id").isin(InpatientIds: _*))),
      visitOccurrence, thresholdHours, persistence, "inpatient")

  /** Fold outpatient visits starting inside an inpatient span into that
    * inpatient visit (earliest inpatient id wins). */
  def step2ConnectOutpatientToInpatient(visitOccurrence: DataFrame,
                                        persistence: Option[String]): StepResult = {
    val inpatient = spanColumns(
      visitOccurrence.where(col("visit_concept_id").isin(InpatientIds: _*)))
    val outpatient = spanColumns(
      visitOccurrence.where(!col("visit_concept_id").isin(InpatientIds: _*)))

    val mapping = Checkpoints.stabilityBarrier(
      inpatient.alias("in")
        .join(outpatient.alias("out"),
          col("in.person_id") === col("out.person_id") &&
            col("in.visit_start_datetime") < col("out.visit_start_datetime") &&
            col("out.visit_start_datetime") < col("in.visit_end_datetime"))
        .groupBy(col("out.visit_occurrence_id").as("visit_occurrence_id"))
        .agg(F.min("in.visit_occurrence_id").as("master_visit_occurrence_id")),
      persistence, "out_to_in_visit_mapping")

    val fixed = visitOccurrence.join(
      mapping.select("visit_occurrence_id"), Seq("visit_occurrence_id"), "left_anti")
    StepResult(fixed, mapping)
  }

  def step3ConsolidateOutpatient(visitOccurrence: DataFrame, thresholdHours: Int,
                                 persistence: Option[String]): StepResult =
    connectChronologically(
      spanColumns(visitOccurrence.where(!col("visit_concept_id").isin(InpatientIds: _*))),
      visitOccurrence, thresholdHours, persistence, "outpatient")

  /** Full three-step pipeline; returns (fixed visit_occurrence, union of the
    * three id mappings). */
  def run(visitOccurrence: DataFrame,
          inpatientHourDiffThreshold: Int = 24,
          outpatientHourDiffThreshold: Int = 1,
          persistence: Option[String] = None): StepResult = {
    val s1 = step1ConsolidateInpatient(visitOccurrence, inpatientHourDiffThreshold, persistence)
    val s2 = step2ConnectOutpatientToInpatient(s1.visitOccurrence, persistence)
    val s3 = step3ConsolidateOutpatient(s2.visitOccurrence, outpatientHourDiffThreshold, persistence)
    val mappingCols = Seq("visit_occurrence_id", "master_visit_occurrence_id")
    val mapping = s1.mapping.selectExpr(mappingCols: _*)
      .unionByName(s2.mapping.selectExpr(mappingCols: _*))
      .unionByName(s3.mapping.selectExpr(mappingCols: _*))
    StepResult(s3.visitOccurrence, mapping)
  }
}
