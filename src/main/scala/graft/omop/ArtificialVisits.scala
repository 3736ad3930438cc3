package graft.omop

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DateType, TimestampType}

/**
 * Re-link orphan events (null visit_occurrence_id) to overlapping real visits,
 * or mint artificial visits for the remainder.
 *
 * Reference: /root/reference/src/cehrbert_data/utils/spark_utils.py:662-825.
 * Semantics preserved: the candidate window is
 * [date(visit_start), visit_end + 1 day − 1 s]; best match = earliest
 * visit_start; new ids are minted above max(visit_occurrence_id) by rank over
 * (person_id, date) pairs; artificial visit spans are min/max(datetime).
 *
 * The best visit depends only on an orphan's person and datetime, so it is
 * picked once per distinct (person_id, datetime) and joined back: exact
 * duplicate orphans stay duplicated, and no per-row id is needed. Every id
 * comes from the data (the mint ranks distinct keys), so the pass needs no
 * barrier against replay.
 *
 * Deviation: visits that start at the same instant tie in the reference,
 * which then links to whichever row its window sees first. Here the tie goes
 * to the lower numeric visit_occurrence_id, whatever the row order.
 */
object ArtificialVisits {

  final case class Result(patientEvents: DataFrame, visitOccurrence: DataFrame)

  def construct(
      patientEventsIn: DataFrame,
      visitOccurrence: DataFrame,
      duplicateRecords: Boolean = false,
      disconnectProblemListRecords: Boolean = false): Result = {

    var patientEvents = patientEventsIn
    // preserve the incoming column dtypes through every rewrite: the events
    // carry ids/concepts as strings, and an int literal in a when/otherwise
    // would coerce the whole column to numeric under ANSI (the reference runs
    // ANSI-off and keeps strings)
    val visitIdType = patientEventsIn.schema("visit_occurrence_id").dataType
    val visitConceptType = patientEventsIn.schema("visit_concept_id").dataType

    val visit = visitOccurrence.select(
        col("person_id"),
        col("visit_occurrence_id"),
        col("visit_concept_id"),
        F.coalesce(col("visit_start_datetime"), F.to_timestamp(col("visit_start_date")))
          .as("visit_start_datetime"),
        F.coalesce(col("visit_end_datetime"),
          F.to_timestamp(F.date_add(col("visit_end_date"), 1))).as("visit_end_datetime"))
      .withColumn("visit_start_lower_bound", F.expr("visit_start_datetime - INTERVAL 1 DAYS"))
      .withColumn("visit_end_upper_bound", F.expr("visit_end_datetime + INTERVAL 1 DAYS"))

    if (disconnectProblemListRecords) {
      val updated = patientEvents
        .join(visit.select("visit_occurrence_id", "visit_start_lower_bound", "visit_end_upper_bound"),
          Seq("visit_occurrence_id"), "left_outer")
        .withColumn("visit_occurrence_id",
          when(col("datetime").between(col("visit_start_lower_bound"), col("visit_end_upper_bound")),
            col("visit_occurrence_id")).otherwise(lit(null).cast(visitIdType)))
        .withColumn("visit_concept_id",
          when(col("visit_occurrence_id").isNotNull, col("visit_concept_id"))
            .otherwise(lit(0).cast(visitConceptType)))
        .drop("visit_start_lower_bound", "visit_end_upper_bound")
      patientEvents =
        if (duplicateRecords)
          updated.where(col("visit_occurrence_id").isNull).unionByName(patientEvents)
        else updated
    }

    val orphans = patientEvents.where(col("visit_occurrence_id").isNull)
      .drop("visit_occurrence_id", "visit_concept_id")

    // the earliest candidate visit per (person_id, datetime); a null key
    // matches no visit, so the left join back keeps such orphans unlinked
    val bestVisit = orphans.select("person_id", "datetime").distinct().alias("event")
      .join(visit.alias("visit"),
        col("event.person_id") === col("visit.person_id") &&
          col("event.datetime").between(
            col("visit.visit_start_datetime").cast(DateType).cast(TimestampType),
            F.expr("visit.visit_end_datetime + INTERVAL 1 DAY - INTERVAL 1 SECOND")))
      .withColumn("matching_rank",
        F.row_number().over(Window.partitionBy("event.person_id", "event.datetime")
          .orderBy(col("visit.visit_start_datetime"),
            col("visit.visit_occurrence_id").cast("long"))))
      .where(col("matching_rank") === 1)
      .select(col("event.person_id"), col("event.datetime"),
        col("visit.visit_occurrence_id"), col("visit.visit_concept_id"))

    val matched = orphans.join(bestVisit, Seq("person_id", "datetime"), "left_outer")

    // max(visit_occurrence_id) + rank over distinct (person, date), with the
    // max over the NUMERIC id: the reference maxes the raw string column
    // ("999" > "1999") and mints ids that collide with real visits, harmless
    // there only because its ANSI-off union stringifies them ("1000.0") so
    // they join no visit. Minting above the true max keeps that outcome
    // without the collision. Parallel allocator, no driver collect().
    val newVisitIds = graft.operators.IdAllocator.allocateAboveMax(
        matched.where(col("visit_occurrence_id").isNull).select("person_id", "date").distinct(),
        visit.select(col("visit_occurrence_id").cast("long").as("visit_occurrence_id")),
        "visit_occurrence_id",
        Seq(col("person_id"), col("date")), "artificial_visit_id")
      .withColumn("artificial_visit_id", col("artificial_visit_id").cast(visitIdType))

    // a linked orphan keeps its visit even where its (person, date) got an id
    val fixed = matched.join(newVisitIds, Seq("person_id", "date"), "left_outer")

    val artificialVisitsAgg = fixed.where(col("visit_occurrence_id").isNull)
      .groupBy(col("artificial_visit_id").as("visit_occurrence_id"), col("person_id"))
      .agg(F.min("datetime").as("visit_start_datetime"),
        F.max("datetime").as("visit_end_datetime"))
      .select(
        col("visit_occurrence_id"),
        col("person_id"),
        lit(0).cast(visitConceptType).as("visit_concept_id"),
        F.to_date(col("visit_start_datetime")).as("visit_start_date"),
        col("visit_start_datetime"),
        F.to_date(col("visit_end_datetime")).as("visit_end_date"),
        col("visit_end_datetime"))

    val existing = artificialVisitsAgg.columns.toSet
    val padded = artificialVisitsAgg.select(
      artificialVisitsAgg.columns.map(col).toSeq ++
        visitOccurrence.schema.fields.filterNot(f => existing.contains(f.name))
          .map(f => lit(null).cast(f.dataType).as(f.name)).toSeq: _*)

    val refreshedEvents = patientEvents.where(col("visit_occurrence_id").isNotNull)
      .unionByName(fixed
        .withColumn("visit_occurrence_id",
          F.coalesce(col("visit_occurrence_id"), col("artificial_visit_id")))
        .drop("artificial_visit_id"))

    Result(refreshedEvents,
      visitOccurrence.unionByName(padded.select(visitOccurrence.columns.map(col): _*)))
  }
}
