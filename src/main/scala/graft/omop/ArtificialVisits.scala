package graft.omop

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DateType, IntegerType, TimestampType}

import graft.core.Checkpoints

/**
 * Re-link orphan events (null visit_occurrence_id) to overlapping real visits,
 * or mint artificial visits for the remainder.
 *
 * Reference: /root/reference/src/cehrbert_data/utils/spark_utils.py:662-825.
 * Semantics preserved: the candidate window is
 * [date(visit_start), visit_end + 1 day − 1 s]; best match = earliest
 * visit_start (row_number, J7); new ids are minted above max(visit_occurrence_id)
 * via rank over (person_id, date) pairs; artificial visit spans are
 * min/max(datetime); materialization barriers are kept where ids are minted
 * from nondeterministic sources (monotonically_increasing_id), because a
 * replayed task would otherwise mint different ids (SURVEY §7.4 risk 6).
 *
 * Scale note: the reference's id-rank window is global (single partition) —
 * input is only the distinct (person, date) pairs of orphan events, far
 * smaller than events, so this holds; [[graft.operators.IdAllocator]] offers
 * the fully scalable alternative if orphans ever dominate.
 */
object ArtificialVisits {

  final case class Result(patientEvents: DataFrame, visitOccurrence: DataFrame)

  def construct(
      patientEventsIn: DataFrame,
      visitOccurrence: DataFrame,
      persistenceFolder: Option[String] = None,
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

    var eventsToFix = patientEvents
      .where(col("visit_occurrence_id").isNull)
      .withColumn("record_id", F.monotonically_increasing_id())
    // barrier: record_id must be stable before it keys the matching-rank window
    eventsToFix = Checkpoints.stabilityBarrier(
      eventsToFix, persistenceFolder, "events_to_fix/raw_events")

    val eventCols = eventsToFix.schema.fieldNames
    val ev = eventsToFix.drop("visit_occurrence_id").alias("event")
    val vi = visit.alias("visit")
    val eventsWithVisit = ev.join(vi,
        col("event.person_id") === col("visit.person_id") &&
          col("event.datetime").between(
            col("visit.visit_start_datetime").cast(DateType).cast(TimestampType),
            F.expr("visit.visit_end_datetime + INTERVAL 1 DAY - INTERVAL 1 SECOND")),
        "left_outer")
      .withColumn("matching_rank",
        F.row_number().over(Window.partitionBy("event.record_id")
          .orderBy("visit.visit_start_datetime")))
      .where(col("matching_rank") === 1)
      .select(
        eventCols.filterNot(c => c == "visit_occurrence_id" || c == "visit_concept_id")
          .map(c => col(s"event.$c").as(c)).toSeq ++
          Seq(col("visit.visit_occurrence_id").as("visit_occurrence_id"),
            col("visit.visit_concept_id").as("visit_concept_id")): _*)

    val linkedEvents = Checkpoints.lineageBarrier(
      eventsWithVisit.where(col("visit_occurrence_id").isNotNull),
      persistenceFolder, "events_to_fix/linked_events")

    var orphanEvents = eventsWithVisit.where(col("visit_occurrence_id").isNull)

    // max(visit_occurrence_id) + rank over distinct (person, date), with the
    // max over the NUMERIC value of the id: the reference maxes the raw
    // string column, which is lexicographic ("999" > "1999") and mints ids
    // that COLLIDE with real visits — harmless there only because its
    // ANSI-off union stringifies them as "1000.0", matching no visit, so the
    // colliding events silently vanish at the sequence join. Minting above
    // the true max reproduces the same observable outcome (artificial ids
    // never join the pre-construct visit table) without the latent
    // cross-patient collision. Broadcast scalar + parallel allocator — no
    // driver collect(), no single-partition window.
    val newVisitIds = graft.operators.IdAllocator.allocateAboveMax(
        orphanEvents.select("person_id", "date").distinct(),
        visit.select(col("visit_occurrence_id").cast("long").as("visit_occurrence_id")),
        "visit_occurrence_id",
        Seq(col("person_id"), col("date")), "visit_occurrence_id")
      .withColumn("visit_occurrence_id", col("visit_occurrence_id").cast(visitIdType))

    orphanEvents = orphanEvents.drop("visit_occurrence_id")
      .join(newVisitIds, Seq("person_id", "date"))
    orphanEvents = Checkpoints.stabilityBarrier(
      orphanEvents, persistenceFolder, "events_to_fix/events_artificial_visits")

    val artificialVisitsAgg = orphanEvents
      .groupBy("visit_occurrence_id", "person_id")
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
      .unionByName(linkedEvents.drop("record_id"))
      .unionByName(orphanEvents.drop("record_id"))

    Result(refreshedEvents,
      visitOccurrence.unionByName(padded.select(visitOccurrence.columns.map(col): _*)))
  }
}
