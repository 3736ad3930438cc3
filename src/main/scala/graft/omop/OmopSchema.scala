package graft.omop

import org.apache.spark.sql.DataFrame

/**
 * OMOP CDM table universe, artificial-token vocabulary, token priorities, and
 * the decorated patient-event column contract.
 *
 * References: /root/reference/src/cehrbert_data/const/common.py:1-43,
 * const/artificial_tokens.py, decorators/token_priority.py:4-32, and the
 * 24-column contract at decorators/patient_event_decorator_base.py:52-90.
 */
object OmopSchema {

  // ------------------------------------------------------------ table names
  val Person = "person"
  val VisitOccurrence = "visit_occurrence"
  val ConditionOccurrence = "condition_occurrence"
  val ProcedureOccurrence = "procedure_occurrence"
  val DrugExposure = "drug_exposure"
  val DeviceExposure = "device_exposure"
  val Observation = "observation"
  val Measurement = "measurement"
  val CategoricalMeasurement = "categorical_measurement"
  val ObservationPeriod = "observation_period"
  val Death = "death"
  val Concept = "concept"
  val ConceptAncestor = "concept_ancestor"
  val ConceptRelationship = "concept_relationship"

  val CdmTables: Seq[String] = Seq(
    Person, VisitOccurrence, ConditionOccurrence, ProcedureOccurrence,
    DrugExposure, DeviceExposure, Observation, Measurement,
    CategoricalMeasurement, ObservationPeriod, Death)

  // ------------------------------------------------------------ tokens
  val NA = "N/A"
  val VsToken = "[VS]"
  val VeToken = "[VE]"
  val DeathToken = "[DEATH]"
  val EndToken = "[END]"
  val VisitUnknownToken = "Visit/0"
  val DischargeUnknownToken = "Discharge/0"
  val GenderUnknownToken = "Gender/0"
  val RaceUnknownToken = "Race/0"
  val MeasurementQuestionPrefix = "1-Question:"
  val MeasurementAnswerPrefix = "2-Answer:"
  val UnknownConcept = "[UNKNOWN]"

  // ------------------------------------------------------------ priorities
  // Kept as doubles: inpatient variants add fractional perturbations
  // (token_priority.py:19-32) — do NOT "clean up" to int (SURVEY §7.4).
  val YearTokenPriority = -10.0
  val AgeTokenPriority = -9.0
  val GenderTokenPriority = -8.0
  val RaceTokenPriority = -7.0
  val AttTokenPriority = -3.0
  val VsTokenPriority = -2.0
  val VisitTypeTokenPriority = -1.0
  val FirstVisitHourTokenPriority = -0.5
  val DefaultPriority = 0.0
  val DischargeTokenPriority = 100.0
  val DeathTokenPriority = 199.0
  val VeTokenPriority = 200.0

  /** Inpatient visit concept ids as used by the decorators
    * (clinical_event_decorator.py:66). Other sites use narrower sets — those
    * are parameterized at their call sites, not unified (SURVEY §7.4 risk 4). */
  val InpatientConceptIdsDecorator: Seq[Int] = Seq(9201, 262, 8971, 8920)
  /** Readmission / prolonged-stay logic set (spark_utils.py:967-984). */
  val InpatientConceptIdsReadmission: Seq[Int] = Seq(9201, 262)
  /** Prolonged-stay set in generate_training_data.py:203. */
  val InpatientConceptIdsProlonged: Seq[Int] = Seq(9201, 262, 9203)

  /** Concept id meaning "patient died" for discharged_to
    * (clinical_event_decorator.py:68). */
  val DeceasedConceptId = 4216643

  // ------------------------------------------------------------ event contract
  /** The fixed 24-column decorated-event contract; every decorator's output is
    * validated against it by set equality
    * (patient_event_decorator_base.py:52-90). */
  val RequiredEventColumns: Set[String] = Set(
    "cohort_member_id", "person_id", "standard_concept_id", "unit",
    "date", "datetime", "visit_occurrence_id", "domain",
    "concept_as_value", "is_numeric_type", "number_as_value",
    "visit_rank_order", "visit_segment", "priority", "date_in_week",
    "concept_value_mask", "mlm_skip_value", "age", "visit_concept_id",
    "visit_start_date", "visit_start_datetime", "visit_concept_order",
    "concept_order", "event_group_id")

  /** Set-equality validation with the reference's error shape
    * (patient_event_decorator_base.py:80-90). */
  def validateEvents(df: DataFrame, context: String = "patient_events"): Unit = {
    val actual = df.columns.toSet
    if (actual != RequiredEventColumns) {
      val extra = actual -- RequiredEventColumns
      val missing = RequiredEventColumns -- actual
      throw new IllegalStateException(
        s"$context\n" +
        s"actual_column_set - expected_column_set: $extra\n" +
        s"expected_column_set - actual_column_set: $missing")
    }
  }
}
