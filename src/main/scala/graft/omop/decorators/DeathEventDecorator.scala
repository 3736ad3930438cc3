package graft.omop.decorators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.IntegerType

import graft.functions.TimeTokens
import graft.functions.TimeTokens.AttType
import graft.omop.OmopSchema._
import graft.operators.IdAllocator

/**
 * Appends a terminal synthetic visit [VS][DEATH][VE] (plus an ATT gap token)
 * after each deceased patient's last [VE] event.
 *
 * Reference: /root/reference/src/cehrbert_data/decorators/
 * death_event_decorator.py:32-126. One pass: one window picks each deceased
 * (person_id, cohort_member_id)'s last [VE], one aggregate takes the max
 * visit_occurrence_id over the deceased patients' events, and one id mint
 * numbers the members above that max in (person_id, cohort_member_id)
 * order. The four tokens then come from a single `explode` of that one row
 * per member.
 */
final class DeathEventDecorator(
    death: Option[DataFrame],
    attType: AttType,
    val persistenceFolder: Option[String] = None)
  extends PatientEventDecorator {

  override def name: String = "death_tokens"

  override protected def decorateImpl(patientEvents: DataFrame): DataFrame = {
    if (death.isEmpty) return patientEvents

    val deathRecords = patientEvents.join(
      death.get.select("person_id", "death_date"), "person_id")

    val maxVisitOccurrenceId = deathRecords
      .select(F.max("visit_occurrence_id").as("max_visit_occurrence_id"))

    // one row per deceased member: its last [VE]
    val lastVeEvents = deathRecords
      .where(col("standard_concept_id") === VeToken)
      .withColumn("record_rank",
        F.row_number().over(
          Window.partitionBy("person_id", "cohort_member_id")
            .orderBy(F.desc("datetime"), F.desc("visit_rank_order"))))
      .where(col("record_rank") === 1)
      .drop("record_rank")

    // one row per deceased member, so one partition suffices. The rank goes
    // back to row_number's int so the sum keeps its type: bigint for the
    // string ids of a CDM stored as strings, the id's own type otherwise.
    val deathVisits = IdAllocator.sequentialIdSinglePartition(
        lastVeEvents, Seq(col("person_id"), col("cohort_member_id")), "death_rank")
      .crossJoin(maxVisitOccurrenceId)
      .withColumn("visit_occurrence_id",
        col("death_rank").cast(IntegerType) + col("max_visit_occurrence_id"))

    // ATT gap between the last event and death (clamped non-negative)
    val daysToDeath = F.datediff(
      when(col("death_date") < col("date"), col("date")).otherwise(col("death_date")), col("date"))
    def token(concept: Column, priority: Double, unit: Column): Column =
      F.struct(concept.as("standard_concept_id"), lit(priority).as("priority"), unit.as("unit"))
    val tokens = F.array(
      token(TimeTokens.token(attType, daysToDeath), AttTokenPriority, lit(NA)),
      token(lit(VsToken), VsTokenPriority, lit(NA)),
      token(lit(DeathToken), DeathTokenPriority, col("unit")),
      token(lit(VeToken), VeTokenPriority, lit(NA)))

    val newTokens = tryPersist(
      deathVisits
        .select(col("*"), F.explode(tokens).as("token"))
        .withColumn("standard_concept_id", col("token.standard_concept_id"))
        .withColumn("priority", col("token.priority"))
        .withColumn("unit", col("token.unit"))
        .withColumn("domain", lit("death"))
        .withColumn("visit_rank_order", lit(100) + col("visit_rank_order"))
        .withColumn("event_group_id", lit(NA))
        .drop("token", "death_rank", "max_visit_occurrence_id", "death_date"),
      "death_events")
    validateEvents(newTokens, name)

    patientEvents.unionByName(newTokens)
  }
}
