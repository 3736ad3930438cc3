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
 * Two barriers: the year tokens (one per patient's first token), then one
 * join of the demographic rows to them whose single `explode` emits the
 * age, gender and race tokens. A patient without a demographic row keeps
 * its year token only.
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
    val demo = patientDemographic.get

    val firstToken = F.row_number().over(
      Window.partitionBy("cohort_member_id", "person_id")
        .orderBy("visit_start_datetime", "visit_occurrence_id", "priority", "standard_concept_id"))

    val patientFirstToken = withoutValue(patientEvents
      .withColumn("token_order", firstToken)
      .where(col("token_order") === 1)
      .drop("token_order"))

    val startYearToken = tryPersist(patientFirstToken
      .withColumn("standard_concept_id",
        concat(lit("year:"), F.year(col("date")).cast(StringType)))
      .withColumn("priority", lit(YearTokenPriority))
      .withColumn("visit_segment", lit(0))
      .withColumn("date_in_week", lit(0))
      .withColumn("age", lit(-1))
      .withColumn("visit_rank_order", lit(0))
      .withColumn("visit_concept_order", lit(0))
      .withColumn("concept_order", lit(0)),
      "sequence_start_year_tokens")

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
    def token(concept: Column, priority: Double): Column =
      F.struct(concept.as("standard_concept_id"), lit(priority).as("priority"))

    val demographicTokens = tryPersist(
      demo.select("person_id", "birth_datetime", "gender_concept_id", "race_concept_id")
        .join(startYearToken, "person_id")
        .select(col("*"), F.explode(F.array(
          token(ageToken, AgeTokenPriority),
          token(genderToken, GenderTokenPriority),
          token(raceToken, RaceTokenPriority))).as("token"))
        .withColumn("standard_concept_id", col("token.standard_concept_id"))
        .withColumn("priority", col("token.priority"))
        .drop("token", "birth_datetime", "gender_concept_id", "race_concept_id"),
      "sequence_demographic_tokens")

    patientEvents.unionByName(startYearToken).unionByName(demographicTokens)
  }
}
