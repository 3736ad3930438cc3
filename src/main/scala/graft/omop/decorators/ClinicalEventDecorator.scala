package graft.omop.decorators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.omop.OmopSchema._

/**
 * Attaches visit-level ordering to raw patient events: visit chronological
 * rank + alternating segment, per-visit concept order (timestamp-ranked for
 * inpatient, constant 1 for outpatient), global visit-concept order, default
 * priority, week-since-epoch, and the value masks.
 *
 * Reference semantics preserved exactly from
 * /root/reference/src/cehrbert_data/decorators/clinical_event_decorator.py:26-157:
 *  - visit rank = row_number over (person, member) by
 *    (visit_start_datetime, is_inpatient, expired, visit_occurrence_id);
 *  - outpatient visit_start_datetime is clamped to start-of-day;
 *  - events `.distinct()` after the join (duplicate collapse is load-bearing).
 *
 * Scale: both windows partition by (person, member) or (member, visit) — high
 * cardinality keys, so no single-partition hazard; the visits join shuffles on
 * visit_occurrence_id.
 */
final class ClinicalEventDecorator(
    visitOccurrence: DataFrame,
    val persistenceFolder: Option[String] = None)
  extends PatientEventDecorator {

  override def name: String = "clinical_events"

  override protected def decorateImpl(patientEvents: DataFrame): DataFrame = {
    val validVisitIds = patientEvents.select("visit_occurrence_id", "cohort_member_id").distinct()

    val visitRank = F.row_number().over(
      Window.partitionBy("person_id", "cohort_member_id")
        .orderBy("visit_start_datetime", "is_inpatient", "expired", "visit_occurrence_id"))

    // visit_occurrence may itself carry cohort_member_id (prediction cohorts)
    val joinKeys =
      if (visitOccurrence.columns.contains("cohort_member_id"))
        Seq("visit_occurrence_id", "cohort_member_id")
      else Seq("visit_occurrence_id")

    val visits = visitOccurrence
      .join(validVisitIds, joinKeys)
      .select(
        col("person_id"),
        col("cohort_member_id"),
        col("visit_occurrence_id"),
        col("visit_start_date").cast(DateType).as("visit_start_date"),
        F.to_timestamp(col("visit_start_datetime")).as("visit_start_datetime"),
        col("visit_concept_id").cast("int").isin(InpatientConceptIdsDecorator: _*)
          .cast("int").as("is_inpatient"),
        when(col("discharged_to_concept_id").cast("int") === DeceasedConceptId, lit(1))
          .otherwise(lit(0)).as("expired"))
      .withColumn("visit_rank_order", visitRank)
      .withColumn("visit_segment", col("visit_rank_order") % lit(2) + 1)
      .drop("person_id", "expired")

    val conceptOrder = when(col("is_inpatient") === 1,
        F.dense_rank().over(
          Window.partitionBy("cohort_member_id", "visit_occurrence_id").orderBy("datetime")))
      .otherwise(lit(1))

    val visitConceptOrder = F.dense_rank().over(
      Window.partitionBy("person_id", "cohort_member_id")
        .orderBy("visit_rank_order", "concept_order"))

    // outpatient records sometimes stamp visit_start_datetime at end of day —
    // clamp to start-of-day for outpatient
    val visitStartDatetime = when(col("is_inpatient") === 0, col("visit_start_date"))
      .otherwise(col("visit_start_datetime")).cast(TimestampType)

    val decorated = patientEvents
      .join(visits, Seq("cohort_member_id", "visit_occurrence_id"))
      .withColumn("datetime", F.coalesce(F.to_timestamp(col("datetime")), F.to_timestamp(col("date"))))
      .withColumn("visit_start_datetime", visitStartDatetime)
      .withColumn("concept_order", conceptOrder)
      .withColumn("visit_concept_order", visitConceptOrder)
      .drop("is_inpatient")
      .distinct()

    val withPriority = decorated
      .withColumn("priority", lit(DefaultPriority))
      .withColumn("date_in_week",
        (F.unix_timestamp(col("date")) / lit(24 * 60 * 60 * 7)).cast("int"))
      .withColumn("concept_value_mask",
        (col("number_as_value").isNotNull || col("concept_as_value").isNotNull).cast("int"))
      .withColumn("is_numeric_type", col("number_as_value").isNotNull.cast("int"))
      .withColumn("mlm_skip_value",
        col("domain").isin(Measurement, CategoricalMeasurement).cast("int"))

    tryPersist(withPriority, "events")
  }
}
