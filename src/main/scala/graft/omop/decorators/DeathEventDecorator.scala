package graft.omop.decorators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}

import graft.functions.TimeTokens
import graft.functions.TimeTokens.AttType
import graft.omop.OmopSchema._
import graft.operators.IdAllocator

/**
 * Appends a terminal synthetic visit [VS][DEATH][VE] (plus an ATT gap token)
 * after each deceased patient's last [VE] event.
 *
 * Reference: /root/reference/src/cehrbert_data/decorators/
 * death_event_decorator.py:32-126. One pass over the events joined to the
 * death table on its key, person_id, and one `explode` that emits each row
 * with the four tokens anchored on its member's last [VE]. The only second
 * read is the side table with one row per deceased
 * (person_id, cohort_member_id), aggregated from the deceased patients'
 * events: the visit of the member's last [VE], and the death visit's id,
 * minted above the max visit_occurrence_id over those events in
 * (person_id, cohort_member_id) order of the members that have a [VE]. It
 * joins back to the stream on its key; with a persistence folder it is the
 * barrier.
 */
final class DeathEventDecorator(
    death: Option[DataFrame],
    attType: AttType,
    val persistenceFolder: Option[String] = None)
  extends PatientEventDecorator {

  override def name: String = "death_tokens"

  override protected def decorateImpl(patientEvents: DataFrame): DataFrame = {
    if (death.isEmpty) return patientEvents
    val keys = Seq("cohort_member_id", "person_id")
    val columns = patientEvents.columns.toSeq.diff(keys)

    val isVe = col("standard_concept_id") === VeToken
    val events = patientEvents.join(
      death.get.select(col("person_id"), col("death_date"), lit(true).as("is_deceased")),
      Seq("person_id"), "left")

    // one row per deceased member: the visit of its last [VE] (by datetime,
    // then visit_rank_order) and the death visit's id; members without a
    // [VE] are numbered last and get no tokens
    val deathVisits = tryPersist(
      IdAllocator.sequentialIdAbove(
          events.where(col("is_deceased"))
            .groupBy("person_id", "cohort_member_id")
            .agg(
              F.max_by(col("visit_occurrence_id"),
                when(isVe, F.struct(col("datetime"), col("visit_rank_order")))).as("last_ve_visit"),
              F.max("visit_occurrence_id").as("max_visit_id")),
          Seq(col("last_ve_visit").isNull, col("person_id"), col("cohort_member_id")),
          "death_visit_id", col("max_visit_id")),
      "death_events")

    // ATT gap between the last event and death (clamped non-negative)
    val daysToDeath = F.datediff(
      when(col("death_date") < col("date"), col("date")).otherwise(col("death_date")), col("date"))
    def token(concept: Column, priority: Double, unit: Column): Column =
      when(isVe && col("visit_occurrence_id") === col("last_ve_visit"), row(columns, Map(
        "standard_concept_id" -> concept,
        "priority" -> lit(priority),
        "unit" -> unit,
        "domain" -> lit("death"),
        "visit_occurrence_id" -> col("death_visit_id"),
        "visit_rank_order" -> (lit(100) + col("visit_rank_order")),
        "event_group_id" -> lit(NA))))

    emit(events.join(deathVisits, Seq("person_id", "cohort_member_id"), "left"), keys, Seq(
      row(columns),
      token(TimeTokens.token(attType, daysToDeath), AttTokenPriority, lit(NA)),
      token(lit(VsToken), VsTokenPriority, lit(NA)),
      token(lit(DeathToken), DeathTokenPriority, col("unit")),
      token(lit(VeToken), VeTokenPriority, lit(NA))))
  }
}
