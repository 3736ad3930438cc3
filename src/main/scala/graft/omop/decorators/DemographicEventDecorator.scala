package graft.omop.decorators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.apache.spark.sql.types.StringType

import graft.omop.OmopSchema._

/**
 * Prepends prompt tokens — year:YYYY, age:N (or age:L-U bucket), gender
 * concept, race concept — anchored at each patient's first history token.
 *
 * One pass: the events join the demographic rows once, on person_id, a
 * window marks each (cohort_member_id, person_id)'s first token, and one
 * `explode` emits each row with the tokens anchored on that first one. A
 * patient without a demographic row keeps its year token only.
 *
 * Reference: /root/reference/src/cehrbert_data/decorators/
 * demographic_event_decorator.py:33-157 (priorities −10…−7 put these before
 * every clinical token after the final sort).
 */
final class DemographicEventDecorator(
    patientDemographic: Option[DataFrame],
    useAgeGroup: Boolean = false,
    val persistenceFolder: Option[String] = None)
  extends PatientEventDecorator {

  override def name: String = "demographic_events"

  override protected def decorateImpl(patientEvents: DataFrame): DataFrame = {
    if (patientDemographic.isEmpty) return patientEvents
    val keys = Seq("cohort_member_id", "person_id")
    val columns = patientEvents.columns.toSeq.diff(keys)

    // datetime breaks the reference's ties (two events of one concept first
    // in a visit) towards the earlier event
    val firstToken = F.row_number().over(
      Window.partitionBy("cohort_member_id", "person_id")
        .orderBy("visit_start_datetime", "visit_occurrence_id", "priority", "standard_concept_id",
          "datetime"))

    val events = patientEvents
      .join(patientDemographic.get.select(col("person_id"), col("birth_datetime"),
          col("gender_concept_id"), col("race_concept_id"), lit(true).as("has_demographic")),
        Seq("person_id"), "left")
      .withColumn("is_first", firstToken === 1)

    val ageToken =
      if (useAgeGroup) {
        val bucket = F.ceil(F.floor(
          F.months_between(col("date"), col("birth_datetime")) / lit(12) / 10))
        concat(lit("age:"), (bucket * 10).cast(StringType), lit("-"),
          ((bucket + 1) * 10).cast(StringType))
      } else {
        concat(lit("age:"),
          F.ceil(F.months_between(col("date"), col("birth_datetime")) / lit(12)).cast(StringType))
      }

    val genderToken = when(
        F.coalesce(col("gender_concept_id"), lit(0)) =!= 0,
        col("gender_concept_id").cast(StringType))
      .otherwise(lit(GenderUnknownToken))
    val raceToken = when(
        F.coalesce(col("race_concept_id"), lit(0)) =!= 0,
        col("race_concept_id").cast(StringType))
      .otherwise(lit(RaceUnknownToken))

    // every prompt token is the first token with the year token's fields
    val yearFields = withoutValue ++ Map(
      "standard_concept_id" -> concat(lit("year:"), F.year(col("date")).cast(StringType)),
      "priority" -> lit(YearTokenPriority),
      "visit_segment" -> lit(0),
      "date_in_week" -> lit(0),
      "age" -> lit(-1),
      "visit_rank_order" -> lit(0),
      "visit_concept_order" -> lit(0),
      "concept_order" -> lit(0))
    def token(concept: Column, priority: Double): Column =
      when(col("is_first") && col("has_demographic"), row(columns, yearFields ++ Map(
        "standard_concept_id" -> concept, "priority" -> lit(priority))))

    emit(events, keys, Seq(
      row(columns),
      when(col("is_first"), row(columns, yearFields)),
      token(ageToken, AgeTokenPriority),
      token(genderToken, GenderTokenPriority),
      token(raceToken, RaceTokenPriority)))
  }
}
