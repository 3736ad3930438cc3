package graft.omop.decorators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
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
 * One pass: the events join the visit table once, on its key, and every
 * token hangs off one event row, so one `explode` emits each row with its
 * tokens.
 *  - A visit counts for a member of the visit's own person: the reference's
 *    join through the member's (person_id, cohort_member_id) pairs, as every
 *    member's events are of one person. Its tokens — [VS], the ATT gap from
 *    the previous visit's end, [VE], the visit type, the first-hour token,
 *    and for an inpatient visit the discharge token with its own inpatient
 *    ATT and hour tokens — hang off one anchor row of the visit.
 *  - Inpatient ATT and hour tokens hang off the first row (by priority) of
 *    each concept_order group and measure from the group before it.
 *  - The previous visit and the previous group are range frames of one step
 *    over visit_rank_order and concept_order: the clinical decorator ranks
 *    both densely, so the step before rank r is rank r − 1.
 * Every window partitions by cohort_member_id plus other keys, so one hash
 * partitioning on cohort_member_id serves them all.
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
    // visit tokens carry the visit's person_id; every row keeps its member
    val columns = patientEvents.columns.toSeq.filterNot(_ == "cohort_member_id")

    val joinKeys =
      if (visitOccurrence.columns.contains("cohort_member_id"))
        Seq("visit_occurrence_id", "cohort_member_id")
      else Seq("visit_occurrence_id")

    // the visit's own fields, which its tokens carry
    val isInpatient = col("visit_concept_id").isin(InpatientConceptIdsDecorator: _*)
    val visits = visitOccurrence.select(joinKeys.map(col) ++ Seq(
      col("person_id").as("v_person_id"),
      col("visit_start_date").cast(DateType).as("v_start_date"),
      col("visit_start_datetime").cast(TimestampType).as("v_start_datetime"),
      // outpatient visits are assumed to end the day they start (bad end dates)
      when(isInpatient, F.coalesce(col("visit_end_date"), col("visit_start_date")).cast(DateType))
        .otherwise(col("visit_start_date").cast(DateType)).as("v_end_date"),
      col("visit_concept_id").as("v_concept_id"),
      col("age").as("v_age"),
      col("discharged_to_concept_id").as("v_discharged_to"),
      F.coalesce(isInpatient, lit(false)).as("v_inpatient")): _*)

    val visit = Window.partitionBy("cohort_member_id", "visit_occurrence_id")
    val byConceptOrder = visit.orderBy("concept_order")
    def whole(w: WindowSpec) = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wholeVisit = whole(byConceptOrder)
    val previousGroup = byConceptOrder.rangeBetween(-1, -1)
    val previousVisit = Window.partitionBy("cohort_member_id", "v_person_id")
      .orderBy("visit_rank_order").rangeBetween(-1, -1)
    val spanBoundary = F.row_number().over(
      Window.partitionBy("cohort_member_id", "visit_occurrence_id", "concept_order")
        .orderBy("priority")) === 1

    val clampedDate = when(col("date") < col("visit_start_date"), col("visit_start_date"))
      .otherwise(when(col("date") > col("visit_end"), col("visit_end")).otherwise(col("date")))

    // Two sorts serve every window: the previous visit's, and one by
    // (member, visit, concept_order, priority), which the span boundary and
    // every visit-level window reuse. Within a span the inpatient priority
    // shift is one constant, so the boundary is the same before and after it.
    val stream = patientEvents
      .join(visits, joinKeys, "left")
      .repartition(col("cohort_member_id"))
      .withColumns(Map(
        "is_kept" -> F.coalesce(col("v_person_id") === col("person_id"), lit(false)),
        "prev_visit_end_date" -> F.max("v_end_date").over(previousVisit)))
      .withColumn("is_boundary", spanBoundary)
      .withColumns(Map(
        "is_inpatient" -> (col("is_kept") && col("v_inpatient")),
        "visit_end" -> F.coalesce(col("v_end_date"),
          F.max("date").over(whole(visit.orderBy("concept_order", "priority"))))))
      .withColumns(Map(
        "date" -> when(col("is_inpatient"), clampedDate).otherwise(col("date")),
        "priority" -> when(col("is_inpatient"), col("priority") + col("concept_order") * 0.1)
          .otherwise(col("priority"))))
      .withColumns(Map(
        "min_visit_concept_order" -> F.min("visit_concept_order").over(wholeVisit),
        "max_visit_concept_order" -> F.max("visit_concept_order").over(wholeVisit),
        "min_concept_order" -> F.min("concept_order").over(wholeVisit),
        "max_concept_order" -> F.max("concept_order").over(wholeVisit),
        "visit_rows" -> F.count(lit(1)).over(wholeVisit),
        "last" -> F.max_by(F.struct("date", "datetime"),
          F.struct(col("concept_order"), -col("priority"))).over(wholeVisit),
        "is_anchor" -> (col("is_kept") && F.row_number().over(byConceptOrder) === 1),
        "prev_date" -> F.min_by(col("date"), col("priority")).over(previousGroup),
        "prev_datetime" -> F.max("datetime").over(previousGroup),
        "rows_before" -> F.count(lit(1)).over(
          byConceptOrder.rangeBetween(Window.unboundedPreceding, -1))))

    // Hours from the previous row, or from midnight on a new day. The
    // reference takes the previous datetime after dropping each visit's first
    // row, so the visit's second row has none and gets no same-day token.
    def hourDelta(date: Column, datetime: Column, prevDate: Column, prevDatetime: Column,
        isSecondRow: Column): Column =
      when(prevDate === date, when(!isSecondRow,
          F.floor((F.unix_timestamp(datetime) - F.unix_timestamp(prevDatetime)) / 3600)))
        .otherwise(hourOfDay(datetime))

    // ------------------------------------------- inpatient tokens on events
    val groupStart = col("is_inpatient") && col("is_boundary") && col("prev_date").isNotNull
    val dayDelta = F.datediff(col("date"), col("prev_date"))
    val eventHourDelta = hourDelta(col("date"), col("datetime"), col("prev_date"),
      col("prev_datetime"), col("rows_before") === 1)
    val hours = lit(includeInpatientHourToken)
    val eventTokens = Seq(
      when(groupStart && dayDelta =!= 0, row(columns, withoutValue ++ Map(
        "standard_concept_id" -> TimeTokens.inpatientToken(inpatientAttType, dayDelta),
        "priority" -> (col("priority") - 0.01)))),
      when(hours && groupStart && eventHourDelta > 0, row(columns, withoutValue ++ Map(
        "standard_concept_id" -> TimeTokens.hourToken(eventHourDelta),
        "priority" -> (col("priority") - 0.01 + 0.001)))))

    // ------------------------------------------- visit tokens on the anchor
    val visitFields = withoutValue ++ Map(
      "person_id" -> col("v_person_id"),
      "visit_start_date" -> col("v_start_date"),
      "visit_start_datetime" -> col("v_start_datetime"),
      "visit_concept_id" -> col("v_concept_id"),
      "age" -> col("v_age"),
      "domain" -> lit("visit"),
      "mlm_skip_value" -> lit(0),
      "date_in_week" -> (F.unix_timestamp(col("v_start_date")) / lit(24 * 60 * 60 * 7)).cast("int"))
    def visitToken(concept: Column, date: Column, datetime: Column, visitConceptOrder: Column,
        conceptOrder: Column, priority: Double, condition: Column = lit(true)): Column =
      when(col("is_anchor") && condition, row(columns, visitFields ++ Map(
        "standard_concept_id" -> concept, "date" -> date, "datetime" -> datetime,
        "visit_concept_order" -> visitConceptOrder, "concept_order" -> conceptOrder,
        "priority" -> lit(priority))))

    val startOfVisit = F.to_timestamp(col("v_start_date"))
    // a visit's last minute: end date + 1 day − 1 minute
    val endOfVisit = F.date_add(col("v_end_date"), 1).cast(TimestampType) - F.expr("INTERVAL 1 MINUTE")
    def atVisitStart(concept: Column, priority: Double, condition: Column = lit(true),
        conceptOrder: Column = lit(0)): Column =
      visitToken(concept, col("v_start_date"), startOfVisit, col("min_visit_concept_order"),
        conceptOrder, priority, condition)
    def atVisitEnd(concept: Column, priority: Double, condition: Column = lit(true)): Column =
      visitToken(concept, col("v_end_date"), endOfVisit, col("max_visit_concept_order"),
        col("max_concept_order") + 1, priority, condition)

    val visitStart = atVisitStart(lit(VsToken), VsTokenPriority,
      conceptOrder = col("min_concept_order") - 1)
    val visitEnd = atVisitEnd(lit(VeToken), VeTokenPriority)
    // inter-visit gap from the previous visit's end, clamped at 0; none
    // before a member's first visit
    val gap = F.datediff(col("v_start_date"), col("prev_visit_end_date"))
    val interVisitAtt = atVisitStart(
      TimeTokens.token(attType, when(gap < 0, lit(0)).otherwise(gap)), AttTokenPriority,
      col("prev_visit_end_date").isNotNull)
    val visitType = atVisitStart(
      when(col("v_concept_id").cast("string") === "0", lit(VisitUnknownToken))
        .otherwise(col("v_concept_id").cast("string")),
      VisitTypeTokenPriority)
    // hours from midnight to the start of an inpatient visit; none at midnight
    val firstHourDelta = hourOfDay(col("v_start_datetime"))
    val firstHour = atVisitStart(TimeTokens.hourToken(firstHourDelta), FirstVisitHourTokenPriority,
      hours && col("v_inpatient") && firstHourDelta > 0)

    // the discharge token closes an inpatient visit, and measures its
    // inpatient ATT and hour tokens from the visit's last concept_order group
    val discharged = F.coalesce(col("v_discharged_to").cast("string"), lit("0"))
    val dischargeDayDelta = F.datediff(col("v_end_date"), col("last.date"))
    val dischargeHourDelta = hourDelta(col("v_end_date"), endOfVisit, col("last.date"),
      col("last.datetime"), col("visit_rows") === 1)
    val afterLastGroup = col("is_inpatient") && col("last.date").isNotNull
    val dischargeTokens = Seq(
      atVisitEnd(when(discharged === "0", lit(DischargeUnknownToken)).otherwise(discharged),
        DischargeTokenPriority, col("is_inpatient")),
      atVisitEnd(TimeTokens.inpatientToken(inpatientAttType, dischargeDayDelta),
        DischargeTokenPriority - 0.01, afterLastGroup && dischargeDayDelta =!= 0),
      atVisitEnd(TimeTokens.hourToken(dischargeHourDelta), DischargeTokenPriority - 0.01 + 0.001,
        hours && afterLastGroup && dischargeHourDelta > 0))

    val visitTokens =
      (if (excludeVisitTokens) Seq(interVisitAtt) else Seq(visitStart, interVisitAtt, visitEnd)) ++
        (if (includeVisitType) Seq(visitType) else Nil) :+ firstHour

    tryPersist(
      emit(stream, Seq("cohort_member_id"),
        Seq(row(columns)) ++ eventTokens ++ visitTokens ++ dischargeTokens),
      "events")
  }

  private def hourOfDay(datetime: Column): Column =
    F.floor((F.unix_timestamp(datetime) - F.unix_timestamp(datetime.cast(DateType))) / 3600)
}
