package graft.omop.decorators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.functions.TimeTokens
import graft.functions.TimeTokens.AttType
import graft.omop.OmopSchema._

/**
 * Inserts artificial time tokens into the event stream: [VS]/[VE] visit
 * boundary tokens, inter-visit ATT tokens, optional visit-type tokens,
 * optional first-hour tokens ("i-H…" from midnight to an inpatient visit's
 * start), discharge tokens, inpatient intra-visit ATT ("i-D…"/"i-M…") and
 * optional inpatient hour tokens ("i-H…").
 *
 * Reference: /root/reference/src/cehrbert_data/decorators/
 * artificial_time_token_decorator.py:51-428 — semantics preserved exactly,
 * including: VE datetime = end_date + 1 day − 1 minute; inter-visit delta
 * clamped at 0; inpatient event dates clamped into the visit span;
 * span-boundary dedup (row_number over (member, visit, concept_order) by
 * priority) before inpatient ATT; the fractional priority perturbations.
 *
 * Shape: every token that hangs off one visit row — [VS], the ATT gap from
 * the previous visit's end, [VE], the visit type and the first-hour token —
 * is one struct of an array built per visit, and one `explode` emits them
 * all into the `artificial_tokens` barrier (the ATT and first-hour entries
 * are null where they do not apply, and their rows are dropped). Discharge
 * tokens are visit-anchored too but stay apart: they join the inpatient
 * events before the span-boundary dedup and the inpatient ATT/hour windows,
 * so they shape those tokens. The inpatient ATT and hour tokens are
 * anchored on events (each follows the event before it in its visit), not
 * on visits, so they come from windows over `inpatient_events`.
 *
 * The reference computes ATT tokens via Python UDFs; here they are pure
 * Column expressions ([[TimeTokens]]) that stay in whole-stage codegen.
 */
final class AttEventDecorator(
    visitOccurrence: DataFrame,
    includeVisitType: Boolean,
    excludeVisitTokens: Boolean,
    attType: AttType,
    inpatientAttType: AttType,
    includeInpatientHourToken: Boolean = false,
    val persistenceFolder: Option[String] = None)
  extends PatientEventDecorator {

  override def name: String = "att_events"

  override protected def decorateImpl(patientEvents: DataFrame): DataFrame = {
    if (attType == AttType.None) return patientEvents

    val cohortMemberPersonPair = patientEvents.select("person_id", "cohort_member_id").distinct()
    val validVisitIds = patientEvents
      .groupBy("cohort_member_id", "visit_occurrence_id", "visit_segment", "visit_rank_order")
      .agg(
        F.min("visit_concept_order").as("min_visit_concept_order"),
        F.max("visit_concept_order").as("max_visit_concept_order"),
        F.min("concept_order").as("min_concept_order"),
        F.max("concept_order").as("max_concept_order"))

    val joinKeys =
      if (visitOccurrence.columns.contains("cohort_member_id")) Seq("person_id", "cohort_member_id")
      else Seq("person_id")

    val isInpatient = col("visit_concept_id").isin(InpatientConceptIdsDecorator: _*)
    // a visit's last minute: end date + 1 day − 1 minute
    val endOfVisit = F.expr("CAST(date_add(visit_end_date, 1) AS TIMESTAMP) - INTERVAL 1 MINUTE")

    val visitOcc0 = withoutValue(visitOccurrence
      .join(cohortMemberPersonPair, joinKeys)
      .select(
        col("person_id"),
        col("cohort_member_id"),
        col("visit_start_date").cast(DateType).as("date"),
        col("visit_start_date").cast(DateType).as("visit_start_date"),
        col("visit_start_datetime").cast(TimestampType).as("visit_start_datetime"),
        F.coalesce(col("visit_end_date"), col("visit_start_date")).cast(DateType).as("visit_end_date"),
        col("visit_concept_id"),
        col("visit_occurrence_id"),
        lit("visit").as("domain"),
        lit(0).as("mlm_skip_value"),
        col("age"),
        col("discharged_to_concept_id"))
      .join(validVisitIds, Seq("visit_occurrence_id", "cohort_member_id"))
      // outpatient visits are assumed to end the day they start (bad end dates)
      .withColumn("visit_end_date",
        when(isInpatient, col("visit_end_date")).otherwise(col("visit_start_date")))
      .withColumn("date_in_week",
        (F.unix_timestamp(col("date")) / lit(24 * 60 * 60 * 7)).cast("int")))

    val visitOcc = tryPersist(visitOcc0, "visit_occurrence_temp")
    val bounds = Seq("min_visit_concept_order", "max_visit_concept_order",
      "min_concept_order", "max_concept_order")

    // ------------------------------------------- visit-anchored tokens
    def token(concept: Column, date: Column, datetime: Column, visitConceptOrder: Column,
        conceptOrder: Column, priority: Double): Column =
      F.struct(concept.as("standard_concept_id"), date.as("date"), datetime.as("datetime"),
        visitConceptOrder.as("visit_concept_order"), conceptOrder.as("concept_order"),
        lit(priority).as("priority"))
    val startOfVisit = F.to_timestamp(col("visit_start_date"))
    def atVisitStart(concept: Column, priority: Double): Column =
      token(concept, col("visit_start_date"), startOfVisit, col("min_visit_concept_order"),
        lit(0), priority)

    val visitStart = token(lit(VsToken), col("visit_start_date"), startOfVisit,
      col("min_visit_concept_order"), col("min_concept_order") - 1, VsTokenPriority)
    val visitEnd = token(lit(VeToken), col("visit_end_date"), endOfVisit,
      col("max_visit_concept_order"), col("max_concept_order") + 1, VeTokenPriority)
    // inter-visit gap from the previous visit's end, clamped at 0; none
    // before a member's first visit
    val gap = F.datediff(col("visit_start_date"), col("prev_visit_end_date"))
    val timeDelta = when(gap < 0, lit(0)).otherwise(gap)
    val interVisitAtt = when(col("prev_visit_end_date").isNotNull,
      atVisitStart(TimeTokens.token(attType, timeDelta), AttTokenPriority))
    val visitType = atVisitStart(
      when(col("visit_concept_id").cast("string") === "0", lit(VisitUnknownToken))
        .otherwise(col("visit_concept_id").cast("string")),
      VisitTypeTokenPriority)
    // hours from midnight to the start of an inpatient visit; none at midnight
    val firstHourDelta = F.floor(
      (F.unix_timestamp(col("visit_start_datetime")) -
        F.unix_timestamp(col("visit_start_datetime").cast(DateType))) / 3600)
    val firstHour = when(isInpatient && firstHourDelta > 0,
      atVisitStart(TimeTokens.hourToken(firstHourDelta), FirstVisitHourTokenPriority))

    val visitTokens =
      (if (excludeVisitTokens) Seq(interVisitAtt) else Seq(visitStart, interVisitAtt, visitEnd)) ++
        (if (includeVisitType) Seq(visitType) else Nil) ++
        (if (includeInpatientHourToken) Seq(firstHour) else Nil)

    val prevVisitEndDate = F.lag("visit_end_date", 1).over(
      Window.partitionBy("person_id", "cohort_member_id").orderBy("visit_rank_order"))

    val artificialTokens = tryPersist(
      visitOcc.drop("discharged_to_concept_id")
        .withColumn("prev_visit_end_date", prevVisitEndDate)
        .select(col("*"), F.explode(F.array(visitTokens: _*)).as("token"))
        .where(col("token").isNotNull)
        .drop("date")
        .select(col("*"), col("token.*"))
        .drop(Seq("token", "prev_visit_end_date", "visit_end_date") ++ bounds: _*),
      "artificial_tokens")

    // ---------------------------------------------------------- inpatient path
    val inpatientVisits = visitOcc
      .where(isInpatient)
      .select("visit_occurrence_id", "visit_end_date", "cohort_member_id")

    val inpatientEventsRaw = patientEvents
      .join(inpatientVisits, Seq("visit_occurrence_id", "cohort_member_id"))
      .withColumn("visit_end_date",
        F.coalesce(col("visit_end_date"),
          F.max("date").over(Window.partitionBy("cohort_member_id", "visit_occurrence_id"))))
      .withColumn("date",
        when(col("date") < col("visit_start_date"), col("visit_start_date"))
          .otherwise(when(col("date") > col("visit_end_date"), col("visit_end_date"))
            .otherwise(col("date"))))
      .withColumn("priority", col("priority") + col("concept_order") * 0.1)
      .drop("visit_end_date")

    val dischargeEvents = visitOcc
      .where(isInpatient)
      // cast first: ANSI coercion would otherwise resolve coalesce(int, "0")
      // numerically and later token literals would fail to cast
      .withColumn("standard_concept_id",
        F.coalesce(col("discharged_to_concept_id").cast("string"), lit("0")))
      .withColumn("visit_concept_order", col("max_visit_concept_order"))
      .withColumn("concept_order", col("max_concept_order") + 1)
      .withColumn("date", col("visit_end_date"))
      .withColumn("datetime", endOfVisit)
      .withColumn("priority", lit(DischargeTokenPriority))
      .drop(Seq("discharged_to_concept_id", "visit_end_date") ++ bounds: _*)
      .withColumn("standard_concept_id",
        when(col("standard_concept_id").cast("string") === "0", lit(DischargeUnknownToken))
          .otherwise(col("standard_concept_id")))

    val inpatientEvents = tryPersist(
      inpatientEventsRaw.unionByName(dischargeEvents), "inpatient_events")

    val prevDate = F.lag("date", 1).over(
      Window.partitionBy("cohort_member_id", "visit_occurrence_id").orderBy("concept_order"))

    // one representative event per (visit, concept_order) span boundary
    val inpatientDayAttEvents = withoutValue(inpatientEvents
      .withColumn("is_span_boundary",
        F.row_number().over(
          Window.partitionBy("cohort_member_id", "visit_occurrence_id", "concept_order")
            .orderBy("priority")))
      .where(col("is_span_boundary") === 1)
      .withColumn("prev_date", prevDate)
      .withColumn("date_delta",
        when(col("prev_date").isNull, 0).otherwise(F.datediff(col("date"), col("prev_date"))))
      .where(col("date_delta") =!= 0)
      .where(col("prev_date").isNotNull)
      .withColumn("standard_concept_id",
        TimeTokens.inpatientToken(inpatientAttType, col("date_delta")))
      .withColumn("priority", col("priority") - 0.01)
      .drop("prev_date", "date_delta", "is_span_boundary"))

    val inpatientAttEvents = tryPersist(
      if (!includeInpatientHourToken) inpatientDayAttEvents
      else {
        val prevDatetime = F.lag("datetime", 1).over(
          Window.partitionBy("cohort_member_id", "visit_occurrence_id").orderBy("concept_order"))
        val hourDeltaBetweenGroups = when(col("prev_datetime").isNull, 0)
          .otherwise(F.floor((F.unix_timestamp(col("datetime")) - F.unix_timestamp(col("prev_datetime"))) / 3600))
        val hourOnNewDay = F.floor(
          (F.unix_timestamp(col("datetime")) - F.unix_timestamp(col("datetime").cast(DateType))) / 3600)
        val hourDelta = when(col("prev_date") === col("date"), hourDeltaBetweenGroups)
          .otherwise(hourOnNewDay)

        val inpatientHourEvents = withoutValue(inpatientEvents
          .withColumn("prev_date", prevDate)
          .where(col("prev_date").isNotNull)
          .withColumn("prev_datetime", prevDatetime)
          .withColumn("hour_delta", hourDelta)
          .where(col("hour_delta") > 0)
          .withColumn("standard_concept_id", TimeTokens.hourToken(col("hour_delta")))
          .withColumn("priority", col("priority") - 0.01 + 0.001)
          .drop("prev_date", "prev_datetime", "hour_delta"))

        inpatientDayAttEvents.unionByName(inpatientHourEvents)
      },
      "inpatient_att_events")

    validateEvents(inpatientEvents, s"$name/inpatient_events")
    validateEvents(inpatientAttEvents, s"$name/inpatient_att_events")

    val otherEvents = tryPersist(
      patientEvents.join(
        inpatientVisits.select("visit_occurrence_id", "cohort_member_id"),
        Seq("visit_occurrence_id", "cohort_member_id"), "left_anti"),
      "other_events")

    val allEvents = inpatientEvents.unionByName(inpatientAttEvents).unionByName(otherEvents)
    validateEvents(allEvents, s"$name/patient_events")
    validateEvents(artificialTokens, s"$name/artificial_tokens")

    allEvents.unionByName(artificialTokens)
  }
}
